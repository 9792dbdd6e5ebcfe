package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.expressions.variant.{ParseJson, VariantGet}
import org.apache.spark.sql.types._

/** ClickHouse SQL dialect compat for the `custom_query` migration path.
  *
  * The reference outsources its entire analytic surface to ClickHouse SQL:
  * `custom_query` bodies are executed verbatim by ClickHouse over JDBC
  * (`mkpipe_extractor_clickhouse/__init__.py:45-50,96-101`; README.md:63
  * shows one). A user switching to this engine brings those queries with
  * ClickHouse-isms in them — so the engine accepts the common ones
  * natively rather than demanding a hand-port:
  *
  *   - `LIMIT n BY k1, k2` — ClickHouse's distinctive per-group limit
  *     clause, rewritten to the standard row_number window filter; the
  *     partition keys and sort expressions are PROJECTED into the wrap as
  *     helper columns, so they may reference select aliases, non-selected
  *     base columns (the canonical latest-row-per-key shape orders by a
  *     timestamp it does not select), or arbitrary expressions;
  *   - `QUALIFY pred` — window-result filtering (ClickHouse 23.2+, also
  *     DuckDB/Snowflake), rewritten to a wrapped subquery + WHERE, with a
  *     trailing ORDER BY absorbed through the same projected-sort-key
  *     mechanism;
  *   - `PREWHERE pred` — merged into WHERE (in ClickHouse a pure scan
  *     optimization with conjunct semantics — exactly what Catalyst's
  *     pushdown + column pruning already do to a plain WHERE);
  *   - parameterized quantiles — ClickHouse's `agg(params)(args)` call
  *     syntax: `quantileExactInclusive(p)(x)` → `percentile` (both are
  *     Excel PERCENTILE.INC linear interpolation), `quantileExact(p)(x)`
  *     → the ELEMENT convention ClickHouse documents (the sorted value at
  *     index ⌊p·n⌋, via [[ClickHouseFunctions]]'s
  *     `graft_ch_quantile_exact` — mapping it to an interpolating
  *     percentile would silently change results), and `quantile(p)(x)` →
  *     `approx_percentile` (ClickHouse's `quantile` is itself an
  *     approximation, so approx↔approx is the faithful pairing); plural
  *     `quantiles*` forms produce arrays. The same `agg(params)(args)`
  *     scan handles `windowFunnel(w)(ts, conds…)` →
  *     `graft_window_funnel` (the sort-and-fold composition registered
  *     in [[ClickHouseFunctions]]), `windowFunnel(w, modes…)` →
  *     `graft_window_funnel_strict` (the richer fold carrying
  *     `strict_order` / `strict_deduplication` / `strict_increase` as a
  *     flag bitmask) and
  *     `sequenceMatch('(?1).*[(?t op n)](?2)…')` → `graft_ch_seq_match`
  *     (the `.*`-separated subset is subsequence existence with
  *     optional per-gap time bounds, decided exactly by a
  *     per-row-bitmask (min, max)-last-time fold, one distinct event
  *     per pattern position; adjacency patterns stay named errors).
  *
  * The combinator / conversion / distinct-count FUNCTIONS (`argMax`,
  * `countIf`, `uniqExact`, `toInt64`, `toStartOfMonth` …) need no parser
  * work at all: they are expression registrations in
  * [[ClickHouseFunctions]].
  *
  * All rewrites are pure string→string on the [[AsOfSqlRewrite]]
  * discipline: string literals / backticks / comments are masked before
  * any keyword scan (the mask is computed ONCE per fixpoint iteration),
  * spans are balanced-paren walks, slices always come from the ORIGINAL
  * text at masked offsets, and generated text after a spliced fragment is
  * preceded by a NEWLINE so a trailing `--` comment inside the fragment
  * cannot swallow it. Unsupported corners fail LOUDLY with named errors
  * instead of silently changing semantics: `QUALIFY` / `LIMIT BY` under
  * `SELECT DISTINCT` (ClickHouse filters before the distinct — a wrapped
  * rewrite would not), `LIMIT BY` without `ORDER BY` (non-deterministic
  * per-group picks have no place in an engine whose gate is a bit-exact
  * oracle diff), ordinal ORDER BY items
  * under the projected-sort rewrites (an ordinal would become a CONSTANT
  * — a silent semantics change), set-operation scoping, and a fixpoint
  * that fails to converge.
  *
  * Installed two ways, same kernel — with one deliberate difference.
  * Extension sessions get the function registrations at session build,
  * and [[GraftSqlParser]] applies this rewrite ONLY when Spark's own
  * parser rejects the statement: every structural ClickHouse-ism is a
  * stock parse error, while standard SQL that merely LOOKS ClickHouse-ish
  * (a column aliased `qualify`) parses cleanly and must behave exactly as
  * stock. Vanilla sessions call [[ClickHouseSql.sql]], which applies the
  * rewrite unconditionally — the caller has explicitly declared the
  * statement to be ClickHouse dialect.
  */
object ClickHouseSqlRewrite {

  import AsOfSqlRewrite.{findKeyword, isWordChar, mask, parenSpan}

  def apply(sql: String): String = {
    var cur = sql
    var changed = true
    var guard = 0
    while (changed && guard < 1024) {
      val next = rewriteOne(cur)
      changed = next ne cur
      cur = next
      guard += 1
    }
    if (changed) throw new IllegalArgumentException(
      "ClickHouse SQL: rewrite did not converge after 1024 passes — " +
        "please report the statement")
    cur
  }

  private def rewriteOne(sql: String): String = {
    val masked = mask(sql)
    failOnTableModifiers(masked)
    if (XxHash64Re.matcher(masked).find()) throw ClickHouseFunctions.hashError("xxHash64")
    // WITH FILL needs the result SCHEMA (generated rows take type
    // defaults in the other columns), which a text rewrite cannot know.
    // ClickHouseSql.sql peels the clause off BEFORE this rewrite and
    // applies it as a DataFrame post-step; reaching here means the
    // purely-textual path (an extension-session statement), where the
    // honest answer is a pointer, not a guess.
    if (ClickHouseWithFill.detect(masked).isDefined)
      throw new IllegalArgumentException(
        "ClickHouse SQL: ORDER BY ... WITH FILL is only supported through " +
          "graft.plans.ClickHouseSql.sql (the fill is a whole-result step " +
          "needing the output schema)")
    val a = rewriteParamAgg(sql, masked); if (a ne sql) return a
    val b = rewriteWithTotals(sql, masked); if (b ne sql) return b
    val c = rewriteQualify(sql, masked); if (c ne sql) return c
    val d = rewriteLimitBy(sql, masked); if (d ne sql) return d
    val e = rewritePrewhere(sql, masked); if (e ne sql) return e
    val f = rewriteSettings(sql, masked); if (f ne sql) return f
    val g = rewriteJoinModifiers(sql, masked); if (g ne sql) return g
    val h = rewriteArrayJoin(sql, masked); if (h ne sql) return h
    val k = rewriteDateDiff(sql, masked); if (k ne sql) return k
    val gl = rewriteGreatestLeast(sql, masked); if (gl ne sql) return gl
    val da = rewriteDateAddSub(sql, masked); if (da ne sql) return da
    val p = rewritePosition(sql, masked); if (p ne sql) return p
    val t = rewriteWithTies(sql, masked); if (t ne sql) return t
    val u = rewriteDictGet(sql, masked); if (u ne sql) return u
    val v = rewriteTransform(sql, masked); if (v ne sql) return v
    val l = rewriteLimitForms(sql, masked); if (l ne sql) return l
    val st = rewriteStarTransformers(sql, masked); if (st ne sql) return st
    val n = rewriteArrayLiterals(sql, masked); if (n ne sql) return n
    val ix = rewriteBracketIndexing(sql, masked); if (ix ne sql) return ix
    val o = rewriteWithMacros(sql, masked); if (o ne sql) return o
    sql
  }

  // -------------------------------------- 12. WITH <expr> AS name macros

  private val LeadingWithRe = java.util.regex.Pattern.compile(
    "(?is)^\\s*WITH\\b")

  /** ClickHouse's scalar WITH form — `WITH 25 AS cut, 'A' AS probe
    * SELECT …` (an expression ALIAS list, not a CTE; ClickHouse docs use
    * it pervasively). Spark's WITH is CTE-only, so each macro item moves
    * into a one-row constant relation cross-joined into the top-level
    * FROM: `FROM (SELECT (25) AS cut, ('A') AS probe) __graft_with CROSS
    * JOIN <original>`. Resolution stays SPARK'S: a macro name colliding
    * with a table column fails LOUDLY as an ambiguous reference instead
    * of silently shadowing, and the one-row side broadcasts (never a
    * cartesian of any size). Scalar-subquery expressions work — they
    * ride the constant relation. Scope limit, stated not guessed: the
    * names resolve in the OUTER query only (Spark subqueries cannot see
    * outer columns), so a macro referenced inside a subquery errors —
    * inline it there. CTE items (`name AS (…)`) in the same WITH list
    * stay CTEs.
    */
  private def rewriteWithMacros(sql: String, masked: String): String = {
    val m = LeadingWithRe.matcher(masked)
    if (!m.find()) return sql
    val selIdx = findKeyword(masked, m.end(), "SELECT")
    if (selIdx < 0) return sql
    val items = splitItems(masked, m.end(), selIdx)
    // Trailing `AS <ident>` is found on the MASKED text (structure), but
    // the expression comes from the ORIGINAL text — a macro whose expr is
    // a string literal (`'A' AS probe`) masks to all spaces, so a
    // masked-side expr match would misread it as a CTE. (scala.Either
    // spelled out: catalyst's Left/Right string expressions shadow the
    // standard names under the wildcard import.)
    val classified: Seq[scala.Either[String, (String, String)]] =
      items.map { case (s0, e0) =>
        var e = e0
        while (e > s0 && masked.charAt(e - 1).isWhitespace) e -= 1
        var w = e
        while (w > s0 && isWordChar(masked.charAt(w - 1))) w -= 1
        var a = w
        while (a > s0 && masked.charAt(a - 1).isWhitespace) a -= 1
        val hasAs = a - 2 >= s0 && masked.regionMatches(true, a - 2, "AS", 0, 2) &&
          (a - 3 < s0 || !isWordChar(masked.charAt(a - 3)))
        val expr = if (hasAs) sql.substring(s0, a - 2).trim else ""
        val ident = sql.substring(w, e)
        if (hasAs && ident.nonEmpty && !ident.head.isDigit && expr.nonEmpty)
          scala.Right((expr, ident))
        else scala.Left(sql.substring(s0, e0).trim)
      }
    val macros = classified.collect { case scala.Right(x) => x }
    if (macros.isEmpty) return sql
    val ctes = classified.collect { case scala.Left(x) => x }
    val fIdx = findKeyword(masked, selIdx + 6, "FROM")
    if (fIdx < 0) throw new IllegalArgumentException(
      "ClickHouse SQL: WITH <expr> AS <name> needs a FROM in the owning " +
        "SELECT (the macro rides a one-row relation) — for a FROM-less " +
        "probe, inline the value")
    val head = if (ctes.isEmpty) "" else "WITH " + ctes.mkString(", ") + " "
    val macroRel = "(SELECT " +
      macros.map { case (e, n) => s"($e\n) AS $n" }.mkString(", ") +
      ") __graft_with CROSS JOIN "
    head + sql.substring(selIdx, fIdx + 4) + " " + macroRel +
      sql.substring(fIdx + 4).stripLeading()
  }

  // ------------------------------------------- 11. [..] array literals

  /** Keywords a literal may directly follow — an identifier before `[`
    * otherwise means indexing (`arr[1]`). A column NAMED like a keyword
    * would need backticks anyway, and the failure mode is a loud
    * analysis error, not a silent semantic change.
    */
  private val PreLiteralKeywords = Set(
    "SELECT", "WHERE", "AND", "OR", "NOT", "IN", "WHEN", "THEN", "ELSE",
    "BY", "ON", "AS", "HAVING", "UNION", "ALL", "DISTINCT", "INTERSECT",
    "EXCEPT", "CASE", "BETWEEN", "LIKE", "ILIKE", "IS", "QUALIFY",
    "PREWHERE", "USING", "VALUES", "RETURN", "FROM", "JOIN", "DIV", "MOD")

  /** Per-char classes of the ORIGINAL text: 0 = code, 1 = comment
    * (`--` to newline, `/*` to `*/`), 2 = quoted span (`'…'`, `"…"`,
    * `` `…` `` with backslash escapes outside backticks and doubled-
    * quote escapes — exactly [[AsOfSqlRewrite.mask]]'s rules, which
    * blank classes 1 and 2 IDENTICALLY). The bracket classifiers need
    * them apart: a comment is skippable air, a quoted span is an
    * OPERAND (the review repro: treating a masked comment as an operand
    * wrapped graft_ch_element INSIDE the comment text).
    */
  private def charClasses(s: String): Array[Byte] = {
    val cls = new Array[Byte](s.length)
    def fill(from: Int, until: Int, v: Byte): Unit = {
      var j = from
      while (j < until && j < s.length) { cls(j) = v; j += 1 }
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        var j = i + 1
        var end = -1
        while (j < s.length && end < 0) {
          if (s.charAt(j) == '\\' && c != '`') j += 2
          else if (s.charAt(j) == c) {
            if (j + 1 < s.length && s.charAt(j + 1) == c) j += 2 else end = j + 1
          } else j += 1
        }
        val stop = if (end < 0) s.length else end
        fill(i, stop, 2); i = stop
      } else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        var j = i + 2
        while (j < s.length && s.charAt(j) != '\n') j += 1
        fill(i, j, 1); i = j
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        val e = s.indexOf("*/", i + 2)
        val stop = if (e < 0) s.length else e + 2
        fill(i, stop, 1); i = stop
      } else i += 1
    }
    cls
  }

  /** Skippable air at `p`: real code whitespace or a comment char. */
  private def isAir(sql: String, cls: Array[Byte], p: Int): Boolean =
    cls(p) == 1 || (cls(p) == 0 && sql.charAt(p).isWhitespace)

  /** The literal-vs-indexing classifier for a `[` at `i` (shared by
    * [[rewriteArrayLiterals]] and [[rewriteBracketIndexing]]): INDEXING
    * when the previous token — skipping whitespace AND comments — is
    * `)`, `]`, a non-keyword identifier, or a QUOTED span (an operand).
    * Anything else — operator, comma, opening bracket, keyword, or
    * nothing — makes it a literal start.
    */
  private def isIndexingBracket(sql: String, masked: String,
      cls: Array[Byte], i: Int): Boolean = {
    var j = i - 1
    while (j >= 0 && isAir(sql, cls, j)) j -= 1
    if (j < 0) return false
    if (cls(j) == 2) return true // a quoted operand before '['
    val prev = masked.charAt(j)
    if (prev == ')' || prev == ']') true
    else if (isWordChar(prev)) {
      var w = j
      while (w >= 0 && isWordChar(masked.charAt(w))) w -= 1
      !PreLiteralKeywords.contains(masked.substring(w + 1, j + 1).toUpperCase)
    } else false
  }

  /** ClickHouse's bracket array literals (`['a', 'b']`, `[[1], [2]]`) →
    * `array(...)`. A `[` is a LITERAL start when the previous non-space
    * token is an operator/opening bracket/comma or a KEYWORD — a
    * non-keyword identifier, `)`, `]`, or a masked quoted span before
    * it means indexing ([[rewriteBracketIndexing]]'s case). One bracket
    * pair per pass; the fixpoint unnests inner literals.
    */
  private def rewriteArrayLiterals(sql: String, masked: String): String = {
    val cls = charClasses(sql)
    var i = 0
    while (i < masked.length) {
      if (masked.charAt(i) == '[') {
        if (!isIndexingBracket(sql, masked, cls, i)) {
          var depth = 0
          var k = i
          while (k < masked.length) {
            val c = masked.charAt(k)
            if (c == '[') depth += 1
            else if (c == ']') {
              depth -= 1
              if (depth == 0)
                return sql.substring(0, i) + "array(" +
                  sql.substring(i + 1, k) + ")" + sql.substring(k + 1)
            }
            k += 1
          }
          throw new IllegalArgumentException(
            "ClickHouse SQL: unbalanced '[' in array literal")
        }
      }
      i += 1
    }
    sql
  }

  /** Start index of the expression an indexing `[` applies to: balance
    * backward over any `)`/`]`-ended suffixes (call arguments, prior
    * index brackets), then absorb the identifier chain in front — word
    * characters, dots, QUOTED spans carried whole (interior spaces
    * included — `` `my col`[1] `` must not split, the review repro),
    * and comments riding inside the span. Air (whitespace/comments) is
    * absorbed only directly after a balanced group and only when an
    * identifier or quoted span precedes it — the call-name-with-space
    * shape (`count (x)[1]`); air after an identifier ends the chain, so
    * `SELECT arr [1]` never swallows the keyword.
    */
  private def indexBaseStart(sql: String, masked: String,
      cls: Array[Byte], bracket: Int): Int = {
    var i = bracket - 1
    while (i >= 0 && isAir(sql, cls, i)) i -= 1
    // `CASE … END[1]` (r14): END is an expression TERMINATOR, not an
    // identifier chain — absorbing just the word END emitted malformed
    // SQL (`… ELSE b graft_ch_element(END, 1)`). Balance backward to the
    // matching CASE (nested pairs counted; quoted spans and comments are
    // blanked in `masked`, so their words never match) and make the
    // whole CASE expression the base.
    if (i >= 0 && isWordChar(masked.charAt(i))) {
      var w = i
      while (w >= 0 && isWordChar(masked.charAt(w))) w -= 1
      if (masked.substring(w + 1, i + 1).equalsIgnoreCase("END") &&
          (w < 0 || masked.charAt(w) != '.')) {
        var depth = 1
        var p = w
        while (p >= 0 && depth > 0) {
          if (isWordChar(masked.charAt(p))) {
            var s2 = p
            while (s2 >= 0 && isWordChar(masked.charAt(s2))) s2 -= 1
            val word = masked.substring(s2 + 1, p + 1)
            // dot-qualified names (t.end, a.case) are identifiers, not
            // CASE-expression delimiters — both directions guarded
            // (review finding: an unguarded t.end miscounted depth and
            // threw on valid SQL).
            val qualified = s2 >= 0 && masked.charAt(s2) == '.'
            if (word.equalsIgnoreCase("END") && !qualified) depth += 1
            else if (word.equalsIgnoreCase("CASE") && !qualified) depth -= 1
            if (depth == 0) return s2 + 1
            p = s2
          } else p -= 1
        }
        throw new IllegalArgumentException(
          "ClickHouse SQL: no matching CASE before END[...] — " +
            "parenthesize the CASE expression: (CASE ... END)[i]; for a " +
            "COLUMN named end, backtick it: `end`[i]")
      }
    }
    var continue = true
    var justBalanced = false
    while (continue && i >= 0) {
      if (cls(i) == 2) { i -= 1; justBalanced = false }
      else if (cls(i) == 1) i -= 1 // a comment inside the base span
      else {
        val c = masked.charAt(i)
        if (c == ')' || c == ']') {
          val close = c
          val open = if (c == ')') '(' else '['
          var depth = 0
          var found = false
          while (i >= 0 && !found) {
            val ch = masked.charAt(i)
            if (ch == close) depth += 1
            else if (ch == open) { depth -= 1; if (depth == 0) found = true }
            i -= 1
          }
          if (!found) throw new IllegalArgumentException(
            "ClickHouse SQL: unbalanced parentheses before an index bracket")
          justBalanced = true
        } else if (isWordChar(c) || c == '.') {
          // A word directly touching a balanced group is its call name —
          // unless it is a KEYWORD (`SELECT (CASE…END)[1]`,
          // `THEN (x)[1]`): keywords terminate the base (r14 — the
          // parenthesized-CASE workaround used to swallow SELECT).
          if (justBalanced && c != '.' && {
            var w2 = i
            while (w2 >= 0 && isWordChar(masked.charAt(w2))) w2 -= 1
            // a dot-QUALIFIED last segment (cat.ns.mod) is a call name,
            // not a keyword (review finding)
            (w2 < 0 || masked.charAt(w2) != '.') &&
              PreLiteralKeywords.contains(
                masked.substring(w2 + 1, i + 1).toUpperCase)
          }) continue = false
          else { i -= 1; justBalanced = false }
        } else if (c.isWhitespace && justBalanced) {
          // Peek past the air: absorb it only when a call name (ident
          // chain or quoted identifier) sits in front of the group —
          // a KEYWORD in front (r14) ends the base instead.
          var p = i
          while (p >= 0 && isAir(sql, cls, p)) p -= 1
          if (p >= 0 && (cls(p) == 2 ||
            isWordChar(masked.charAt(p)) || masked.charAt(p) == '.')) {
            if (cls(p) == 0 && isWordChar(masked.charAt(p)) && {
              var w2 = p
              while (w2 >= 0 && isWordChar(masked.charAt(w2))) w2 -= 1
              (w2 < 0 || masked.charAt(w2) != '.') &&
                PreLiteralKeywords.contains(
                  masked.substring(w2 + 1, p + 1).toUpperCase)
            }) continue = false
            else { i = p; justBalanced = false }
          } else continue = false
        } else {
          continue = false
        }
      }
    }
    i + 1
  }

  /** ClickHouse bracket INDEXING (r13) — `arr[i]` is 1-BASED with
    * negative-from-end in ClickHouse; Spark's bracket subscript is
    * 0-BASED, so an untouched pass-through runs SILENTLY SHIFTED — the
    * one failure mode the layer exists to prevent (the bare-`position`
    * haystack-first precedent). On the explicit dialect path every
    * indexing bracket rewrites to `graft_ch_element(base, idx)` —
    * Spark's own `element_at`, which already IS ClickHouse's array
    * convention (1-based, negative from end) and key lookup for maps.
    * Out-of-bounds indexes and missing map keys return NULL
    * (ClickHouse's Array(Nullable(T))/Map Nullable lane; the
    * non-nullable default-value lane has no Spark counterpart — stated
    * in the builder's usage), and index 0 raises Spark's loud
    * indices-start-at-1 error. In an extension session, standard SQL
    * containing `arr[0]` parses STOCK and keeps Spark's 0-based
    * subscript — the parse-failure gate, the same split the position
    * rename documents. One bracket per pass; chains (`x[1][2]`) resolve
    * through the fixpoint.
    */
  private def rewriteBracketIndexing(sql: String, masked: String): String = {
    val cls = charClasses(sql)
    var i = 0
    while (i < masked.length) {
      if (masked.charAt(i) == '[' && cls(i) == 0 &&
        isIndexingBracket(sql, masked, cls, i)) {
        var depth = 0
        var k = i
        var close = -1
        while (k < masked.length && close < 0) {
          val ch = masked.charAt(k)
          if (ch == '[') depth += 1
          else if (ch == ']') { depth -= 1; if (depth == 0) close = k }
          k += 1
        }
        if (close < 0) throw new IllegalArgumentException(
          "ClickHouse SQL: unbalanced '[' in index expression")
        val bs = indexBaseStart(sql, masked, cls, i)
        return sql.substring(0, bs) + "graft_ch_element(" +
          sql.substring(bs, i) + "\n, " + sql.substring(i + 1, close) +
          "\n)" + sql.substring(close + 1)
      }
      i += 1
    }
    sql
  }

  // -------------------------------------- 10. LIMIT offset,count / FORMAT

  private val LimitCommaRe = java.util.regex.Pattern.compile(
    "(?i)\\bLIMIT\\s+(\\d+)\\s*,\\s*(\\d+)\\b")
  private val WithTiesRe = java.util.regex.Pattern.compile(
    "(?i)\\bLIMIT\\s+(\\d+)\\s+WITH\\s+TIES\\b")
  private val WithTiesOffsetRe = java.util.regex.Pattern.compile(
    "(?i)\\bLIMIT\\s+\\d+\\s*(?:,\\s*\\d+|\\s+OFFSET\\s+\\d+)\\s+WITH\\s+TIES\\b" +
      "|(?i)\\bLIMIT\\s+\\d+\\s+WITH\\s+TIES\\s+OFFSET\\b")
  private val FormatRe = java.util.regex.Pattern.compile(
    "(?i)\\bFORMAT\\s+[A-Za-z][A-Za-z0-9]*\\s*;?\\s*$")

  /** `ORDER BY <sort> LIMIT n WITH TIES` — the first n rows PLUS every
    * following row whose sort key ties the n-th. Exactly a rank()
    * filter over the same keys, via the projected-sort discipline
    * [[rewriteLimitBy]] established (helpers let the sort reference
    * select aliases or non-selected base columns; the outer ORDER BY
    * on the EXCEPTed helpers re-establishes the final ordering):
    *
    * {{{
    * SELECT * EXCEPT (helpers) FROM (
    *   SELECT *, rank() OVER (ORDER BY __graft_ob_* mods) AS __graft_ties_rk
    *   FROM (SELECT <list>, (<sort_i>) AS __graft_ob_i… FROM …))
    * WHERE __graft_ties_rk <= n
    * ORDER BY __graft_ob_* mods
    * }}}
    *
    * rank() assigns tied rows one rank and jumps past the group, so
    * `rank <= n` keeps a whole tie-group iff its first row sits within
    * the first n — ClickHouse's WITH TIES rule. ORDER BY is REQUIRED
    * (ties are defined by it; ClickHouse errors without one too). Scale:
    * the empty-partition rank window plans as WindowGroupLimit — a
    * per-partition partial top-n before the single-partition final, the
    * same TopK shape as the global sort+limit it replaces. The offset
    * forms (`LIMIT o, n WITH TIES`) stay a named error: whether the
    * offset rows consume tie-groups is a ClickHouse-internal detail its
    * docs do not state.
    */
  private def rewriteWithTies(sql: String, masked: String): String = {
    val off = WithTiesOffsetRe.matcher(masked)
    if (off.find()) throw new IllegalArgumentException(
      "ClickHouse SQL: LIMIT with an OFFSET and WITH TIES together is " +
        "not supported — how the offset interacts with tie-groups is not " +
        "documented; apply the offset in an outer query")
    val m = WithTiesRe.matcher(masked)
    if (!m.find()) return sql
    val n = m.group(1).toLong
    val lIdx = m.start()
    val (firstSelIdx, selIdx) = owningSelect(masked, lIdx)
    if (selIdx < 0) throw new IllegalArgumentException(
      "ClickHouse SQL: LIMIT WITH TIES without an owning SELECT")
    failIfDistinct(masked, selIdx, "LIMIT WITH TIES")
    for (op <- Seq("UNION", "INTERSECT", "EXCEPT")) {
      var s = firstSelIdx + 6
      var found = -1
      while (found < 0 && s < lIdx) {
        val idx = findKeyword(masked, s, op)
        if (idx < 0 || idx >= lIdx) s = lIdx
        else {
          var p = idx - 1
          while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
          if (p >= 0 && masked.charAt(p) == '*') s = idx + op.length
          else found = idx
        }
      }
      if (found >= 0) throw new IllegalArgumentException(
        "ClickHouse SQL: LIMIT WITH TIES over a set operation is " +
          "ambiguous — wrap the union in a subquery")
    }
    val fromIdx = findKeyword(masked, selIdx + 6, "FROM")
    if (fromIdx < 0 || fromIdx > lIdx) throw new IllegalArgumentException(
      "ClickHouse SQL: LIMIT WITH TIES requires a FROM clause")
    val oIdx = findKeyword(masked, selIdx + 6, "ORDER")
    if (oIdx < 0 || oIdx > lIdx) throw new IllegalArgumentException(
      "ClickHouse SQL: LIMIT WITH TIES requires an ORDER BY — the ties " +
        "are defined by the sort key")
    val byIdx = findKeyword(masked, oIdx + 5, "BY")
    if (byIdx < 0) throw new IllegalArgumentException(
      "ClickHouse SQL: malformed ORDER BY")
    val sort = projectSort(sql, masked, byIdx + 2, lIdx, "__graft_ob")
    val selectList = sql.substring(selIdx + 6, fromIdx).trim
    val rest = sql.substring(fromIdx, oIdx).trim
    val helperNames = sort.names :+ "__graft_ties_rk"
    sql.substring(0, selIdx) +
      "SELECT * EXCEPT (" + helperNames.mkString(", ") + ") FROM (" +
      "SELECT *, rank() OVER (ORDER BY " + sort.orderBy +
      ") AS __graft_ties_rk FROM (SELECT " +
      selectList + sort.selectItems + "\n" + rest +
      "\n)) WHERE __graft_ties_rk <= " + n +
      " ORDER BY " + sort.orderBy + " " + sql.substring(m.end())
  }

  /** ClickHouse's remaining LIMIT spellings and the trailing FORMAT
    * clause: `LIMIT offset, count` (the pagination form) → standard
    * `LIMIT count OFFSET offset` — unless BY follows, in which case it
    * is the parameterized LIMIT BY that [[rewriteLimitBy]] owns
    * (including its offset forms), or WITH TIES follows, which
    * [[rewriteWithTies]] owns (its offset form is a named error there);
    * a STATEMENT-TRAILING `FORMAT <name>` strips — it selects the
    * CLIENT serialization (JSON, Pretty, CSV…) and never changes the
    * result rows, the same rationale as the SETTINGS strip.
    */
  private def rewriteLimitForms(sql: String, masked: String): String = {
    val lc = LimitCommaRe.matcher(masked)
    while (lc.find()) {
      // `LIMIT n, m BY keys` belongs to rewriteLimitBy's named error.
      var j = lc.end()
      while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
      val isBy = masked.regionMatches(true, j, "BY", 0, 2) &&
        (j + 2 >= masked.length || !isWordChar(masked.charAt(j + 2)))
      if (!isBy)
        return sql.substring(0, lc.start()) +
          s"LIMIT ${lc.group(2)} OFFSET ${lc.group(1)}" + sql.substring(lc.end())
    }
    val fm = FormatRe.matcher(masked)
    if (fm.find()) return sql.substring(0, fm.start()).stripTrailing()
    sql
  }

  // ---------------------------------------------- 14. transform -> CASE

  private val TransformRe = java.util.regex.Pattern.compile(
    "(?i)\\btransform\\s*\\(")

  /** ClickHouse's `transform(x, [f1, f2…], [t1, t2…][, default])` — the
    * constant-array lookup CASE. It cannot be a registered function:
    * Spark's own higher-order `transform(arr, lambda)` holds the name by
    * no-clobber, so the 3/4-arg constant-array form rewrites TEXTUALLY
    * into the equivalent `CASE (x) WHEN f1 THEN t1 … ELSE default END`
    * (ClickHouse requires constant arrays here too, so the restriction
    * to literal-array spellings `[…]`/`array(…)` loses nothing; the
    * 3-arg form falls back to x itself, ClickHouse's rule). A 2-arg
    * call — Spark's HOF — passes through untouched, as does a member
    * access `t.transform(…)`.
    */
  private def rewriteTransform(sql: String, masked: String): String = {
    val m = TransformRe.matcher(masked)
    var from = 0
    while (m.find(from)) {
      var p = m.start() - 1
      while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
      val isMember = p >= 0 && masked.charAt(p) == '.'
      val (aStart, aEnd, afterA) = parenSpan(masked, m.end() - 1)
      val items = splitItems(masked, aStart, aEnd)
      if (!isMember && (items.length == 3 || items.length == 4)) {
        def arrEls(span: (Int, Int)): Option[Seq[String]] = {
          var a = span._1; var b = span._2
          while (a < b && masked.charAt(a).isWhitespace) a += 1
          while (b > a && masked.charAt(b - 1).isWhitespace) b -= 1
          if (a < b && masked.charAt(a) == '[' && masked.charAt(b - 1) == ']')
            Some(splitItems(masked, a + 1, b - 1)
              .map { case (x, y) => sql.substring(x, y).trim })
          else if (masked.regionMatches(true, a, "array", 0, 5)) {
            var c = a + 5
            while (c < b && masked.charAt(c).isWhitespace) c += 1
            if (c < b && masked.charAt(c) == '(') {
              val (s1, e1, af) = parenSpan(masked, c)
              if (af == b) Some(splitItems(masked, s1, e1)
                .map { case (x, y) => sql.substring(x, y).trim })
              else None
            } else None
          } else None
        }
        (arrEls(items(1)), arrEls(items(2))) match {
          case (Some(fs), Some(ts)) if fs.nonEmpty && fs.length == ts.length =>
            val x = sql.substring(items(0)._1, items(0)._2).trim
            val dflt =
              if (items.length == 4)
                "(" + sql.substring(items(3)._1, items(3)._2).trim + "\n)"
              else s"($x\n)"
            val whens = fs.zip(ts)
              .map { case (f, t) => s"WHEN ($f\n) THEN ($t\n)" }.mkString(" ")
            return sql.substring(0, m.start()) +
              s"CASE ($x\n) $whens ELSE $dflt END" + sql.substring(afterA)
          case (Some(fs), Some(ts)) => throw new IllegalArgumentException(
            s"ClickHouse SQL: transform's from/to arrays must be the same " +
              s"non-empty length, got ${fs.length} vs ${ts.length}")
          case _ => throw new IllegalArgumentException(
            "ClickHouse SQL: transform(x, from, to[, default]) needs " +
              "literal array arguments ([…] or array(…)) — ClickHouse " +
              "requires constant arrays here too")
        }
      }
      from = afterA
    }
    sql
  }

  // ---------------------------------------------------- 13. dictGet family

  // Typed dictGet variants and the miss value their NAME pins: ClickHouse
  // returns the named TYPE's default on a miss, so the mapping is exact
  // without the dictionary DDL — provided the view column already carries
  // a compatible Spark type, which the catalog lookup validates.
  private val DictTypedDefaults: Map[String, String] = Map(
    "string" -> "''",
    "int8" -> "0", "int16" -> "0", "int32" -> "0", "int64" -> "0",
    "uint8" -> "0", "uint16" -> "0", "uint32" -> "0", "uint64" -> "0",
    "float32" -> "CAST(0.0 AS FLOAT)", "float64" -> "CAST(0.0 AS DOUBLE)",
    "date" -> "DATE '1970-01-01'",
    // Epoch INSTANT zero — ClickHouse's DateTime(0) — not a session-zone
    // wall clock (a TIMESTAMP literal would shift by the zone offset).
    "datetime" -> "CAST(0 AS TIMESTAMP)")

  private val DictFnRe = java.util.regex.Pattern.compile(
    "(?i)\\b(dictGetOrDefault|dictGetOrNull|dictHas|dictIsIn|dictGetHierarchy|" +
      "dictGet(?:String|Int8|Int16|Int32|Int64|UInt8|UInt16|UInt32|UInt64|" +
      "Float32|Float64|DateTime|Date)(?:OrDefault)?|dictGet)\\s*\\(")

  /** The registered view standing in for the dictionary: its schema, via
    * the ACTIVE session (the rewrite is otherwise session-free; dict
    * functions are the one construct that needs the catalog, because the
    * key column is the view's FIRST column by convention — mirroring
    * flat/hashed dictionary layouts, whose key leads the structure).
    */
  private def dictSchema(name: String): Option[Seq[(String, DataType)]] =
    org.apache.spark.sql.SparkSession.getActiveSession.flatMap { s =>
      try Some(s.table(name).schema.fields.toSeq.map(f => (f.name, f.dataType)))
      catch { case _: Throwable => None }
    }

  /** `dictGetOrDefault('d','attr',k,def)` / `dictGetOrNull` / `dictHas` /
    * typed `dictGetString`-style forms → a correlated scalar-subquery
    * lookup against the registered view `d`, whose FIRST column is the
    * key (documented convention; ClickHouse reads the key from the
    * dictionary DDL, which a view does not carry):
    *
    *   - `dictGetOrNull('d','a',k)`      → `(SELECT max(a) FROM d WHERE key = (k))`
    *   - `dictGetOrDefault('d','a',k,v)` → `coalesce((…), (v))`
    *   - `dictHas('d',k)`                → `((SELECT count(*) FROM d WHERE key = (k)) > 0)`
    *     (BOOLEAN, where ClickHouse returns UInt8 0/1 — the engine's
    *     uniform predicate convention)
    *   - `dictGetString/Int64/…[OrDefault]` → `coalesce((…), <type default>)`
    *     — the typed name pins the miss value, and the view column's
    *     Spark type is VALIDATED against the name (ClickHouse errors on
    *     a type mismatch too; silently casting would diverge).
    *
    * `max()` makes the subquery total; dictionary keys are unique in
    * ClickHouse, so on a deduplicated view it is the identity (duplicate
    * keys reduce by max — register a deduplicated view). Plain `dictGet`
    * stays a NAMED error: its miss value is the ATTRIBUTE type's default,
    * which only the dictionary DDL knows. `dictIsIn`/`dictGetHierarchy`
    * walk the parent chain — an iterative closure; the named error points
    * at the recursive-CTE spelling the engine supports. Scale: Spark
    * decorrelates the equality-correlated scalar subquery into an
    * aggregate + left outer join on the key — broadcastable for any
    * real dictionary (dictionaries are small by design).
    */
  private def rewriteDictGet(sql: String, masked: String): String = {
    val m = DictFnRe.matcher(masked)
    if (!m.find()) return sql
    val fname = m.group(1)
    val lower = fname.toLowerCase
    if (lower == "dictget") throw new IllegalArgumentException(
      "ClickHouse SQL: dictGet returns the dictionary ATTRIBUTE type's " +
        "default on a miss, which only the dictionary DDL knows — use " +
        "dictGetOrDefault('d','attr',key,default) (explicit default, " +
        "exact), dictGetOrNull (NULL on a miss), or a typed form like " +
        "dictGetString/dictGetInt64 (whose name pins the miss value)")
    if (lower == "dictisin" || lower == "dictgethierarchy")
      throw new IllegalArgumentException(
        s"ClickHouse SQL: $fname walks a hierarchical dictionary's parent " +
          "chain — an iterative closure; spell it as a recursive CTE over " +
          "the parent column (WITH RECURSIVE is supported)")
    val (aStart, aEnd, afterA) = parenSpan(masked, m.end() - 1)
    val items = splitItems(masked, aStart, aEnd)
      .map { case (s0, e0) => sql.substring(s0, e0).trim }
    def strLit(s: String, what: String): String = {
      if (s.length < 2 || s.head != '\'' || s.last != '\'' ||
          s.substring(1, s.length - 1).exists(c => c == '\'' || c == '`'))
        throw new IllegalArgumentException(
          s"ClickHouse SQL: $fname's $what must be a plain single-quoted " +
            s"string literal, got: $s")
      s.substring(1, s.length - 1)
    }
    val isHas = lower == "dicthas"
    val isOrDefault = lower.endsWith("ordefault")
    val wantArgs = if (isHas) 2 else if (isOrDefault) 4 else 3
    if (items.length != wantArgs) throw new IllegalArgumentException(
      s"ClickHouse SQL: $fname takes $wantArgs arguments, got ${items.length}")
    val dict = strLit(items.head, "dictionary name")
    if (!dict.matches("[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?"))
      throw new IllegalArgumentException(
        s"ClickHouse SQL: $fname: '$dict' is not a plain view name")
    val cols = dictSchema(dict).getOrElse(throw new IllegalArgumentException(
      s"ClickHouse SQL: $fname: no view or table named '$dict' is " +
        "registered — the mapping reads the dictionary as a Spark view " +
        "whose FIRST column is the key; createOrReplaceTempView the " +
        "dictionary data first (or run through ClickHouseSql.sql with an " +
        "active session)"))
    val keyCol = cols.head._1
    // The probe key splices INSIDE the lookup subquery, where the
    // dictionary's own columns shadow outer names: a bare identifier in
    // the key that also names a dictionary column would resolve to the
    // DICTIONARY side (inner scope wins), turning the predicate into a
    // tautology — every probe would silently get the whole-dictionary
    // max. Same-name keys (dim.user_id probed by fact.user_id) are the
    // ubiquitous convention, so this is a named error demanding the
    // qualified spelling, never a silent wrong answer. Scanned on the
    // MASKED text so string literals spelling column names stay inert;
    // dotted references (t.user_id) and function calls are exempt.
    val keyMasked = {
      val (s0, e0) = splitItems(masked, aStart, aEnd)
        .lift(if (isHas) 1 else 2).getOrElse((0, 0))
      masked.substring(s0, e0)
    }
    val colNamesLower = cols.map(_._1.toLowerCase).toSet
    val idm = java.util.regex.Pattern
      .compile("[A-Za-z_][A-Za-z0-9_]*").matcher(keyMasked)
    while (idm.find()) {
      val tok = keyMasked.substring(idm.start(), idm.end())
      val before = {
        var b = idm.start() - 1
        while (b >= 0 && keyMasked.charAt(b).isWhitespace) b -= 1
        if (b >= 0) keyMasked.charAt(b) else ' '
      }
      val after = {
        var a = idm.end()
        while (a < keyMasked.length && keyMasked.charAt(a).isWhitespace) a += 1
        if (a < keyMasked.length) keyMasked.charAt(a) else ' '
      }
      if (before != '.' && after != '(' && after != '.' &&
          colNamesLower.contains(tok.toLowerCase))
        throw new IllegalArgumentException(
          s"ClickHouse SQL: $fname: the probe key references bare `$tok`, " +
            s"which is also a column of the dictionary view '$dict' — " +
            "inside the lookup subquery that name resolves to the " +
            "DICTIONARY side and the lookup would silently match every " +
            "row; qualify the probe (e.g. fact_table.`" + tok + "`)")
    }
    val repl =
      if (isHas)
        s"((SELECT count(*) FROM $dict WHERE `$keyCol` = (${items(1)}\n)) > 0)"
      else {
        val attr = strLit(items(1), "attribute name")
        val attrType = cols.find(_._1 == attr).map(_._2).getOrElse(
          throw new IllegalArgumentException(
            s"ClickHouse SQL: $fname: '$dict' has no column '$attr' — " +
              s"available: ${cols.map(_._1).mkString(", ")}"))
        val sub = s"(SELECT max(`$attr`) FROM $dict WHERE `$keyCol` = " +
          s"(${items(2)}\n))"
        val typed = lower.stripPrefix("dictget").stripSuffix("ordefault")
        if (DictTypedDefaults.contains(typed)) {
          val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
          val ok = typed match {
            case "string" => attrType == StringType
            case "float32" => attrType == FloatType
            case "float64" => attrType == DoubleType || attrType == FloatType
            case "date" => attrType == DateType
            case "datetime" =>
              attrType == TimestampType || attrType == TimestampNTZType
            case "uint64" => integral(attrType) || attrType == DecimalType(20, 0)
            case _ => integral(attrType)
          }
          if (!ok) throw new IllegalArgumentException(
            s"ClickHouse SQL: $fname requires attribute '$attr' to carry " +
              s"a ${typed.toUpperCase}-compatible type; the view column is " +
              s"$attrType (ClickHouse errors on a dictGet type mismatch " +
              "too — use dictGetOrDefault/dictGetOrNull for the untyped " +
              "lookup)")
          val miss = if (isOrDefault) s"(${items(3)}\n)"
            else DictTypedDefaults(typed)
          s"coalesce($sub, $miss)"
        }
        else if (isOrDefault) s"coalesce($sub, (${items(3)}\n))"
        else sub // dictGetOrNull
      }
    sql.substring(0, m.start()) + repl + sql.substring(afterA)
  }

  // ------------------------------------------------------- 9. dateDiff

  private val DateDiffRe = java.util.regex.Pattern.compile(
    "(?i)\\b(?:dateDiff|date_diff)\\s*\\(")

  /** ClickHouse's `dateDiff('unit', a, b)` → `graft_ch_datediff` (the
    * boundary-counting builder). Renamed TEXTUALLY because `dateDiff` is
    * a PARSER keyword in Spark — the grammar routes it to timestampdiff
    * and rejects a quoted unit before any registry lookup. Only calls
    * whose first argument is a STRING LITERAL are ClickHouse's form;
    * Spark's own 2-arg `datediff(end, start)` passes through untouched.
    */
  private def rewriteDateDiff(sql: String, masked: String): String = {
    val m = DateDiffRe.matcher(masked)
    while (m.find()) {
      var k = m.end()
      while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
      if (k < sql.length && sql.charAt(k) == '\'') {
        // The regex ends AT the paren it matched in the MASKED text (where
        // comment bytes are blanked), so m.end()-1 is the real '(' —
        // sql.indexOf('(', …) on the ORIGINAL text would land inside a
        // comment sitting between the name and its argument list
        // (`dateDiff /* ( */ (…)`) and splice corrupted SQL.
        val nameEnd = m.end() - 1
        return sql.substring(0, m.start()) + "graft_ch_datediff" +
          sql.substring(nameEnd)
      }
    }
    sql
  }

  private val GreatestLeastRe = java.util.regex.Pattern.compile(
    "(?i)\\b(greatest|least)\\s*\\(")

  /** ClickHouse's `greatest`/`least` NULL-propagate (NULL if ANY argument
    * is NULL); Spark's own functions SKIP nulls — a silent value
    * divergence on the exact rows where it matters, so the dialect path
    * renames every call to the null-propagating `graft_ch_greatest`/
    * `graft_ch_least` builders (the dateDiff/position precedent).
    * Extension sessions keep Spark's semantics via the parse-failure
    * gate — stock `greatest` parses cleanly and is never rewritten there.
    * A dot-qualified name (`cat.greatest(...)`) is somebody else's
    * function, left alone.
    */
  private def rewriteGreatestLeast(sql: String, masked: String): String = {
    val m = GreatestLeastRe.matcher(masked)
    while (m.find()) {
      if (m.start() == 0 || masked.charAt(m.start() - 1) != '.') {
        // m.end()-1 is the '(' matched in the MASKED text — see
        // rewriteDateDiff: indexOf on the original text could land on a
        // '(' inside a comment between the name and the argument list.
        val nameEnd = m.end() - 1
        return sql.substring(0, m.start()) +
          "graft_ch_" + m.group(1).toLowerCase(java.util.Locale.ROOT) +
          sql.substring(nameEnd)
      }
    }
    sql
  }

  private val DateAddRe = java.util.regex.Pattern.compile(
    "(?i)\\b(dateAdd|dateSub|date_add|date_sub)\\s*\\(")

  /** ClickHouse's unit-first `dateAdd(unit, n, d)` / `dateSub(unit, n,
    * d)` → a TEXTUAL RENAME onto `graft_ch_dateadd`/`graft_ch_datesub`
    * (the dateDiff/position precedent — Spark already owns `dateadd` as
    * the 2-arg days form, so the spelling cannot register). The rename
    * fires ONLY when the call has three arguments and the FIRST is a
    * unit keyword (bare or quoted) — Spark's own `date_add(d, 5)` and a
    * 3-arg call keyed by a genuine column pass through untouched (a
    * column NAMED like a unit in first position reads as the unit, as
    * it does in ClickHouse itself).
    */
  private def rewriteDateAddSub(sql: String, masked: String): String = {
    val m = DateAddRe.matcher(masked)
    while (m.find()) {
      val (aStart, aEnd, _) = parenSpan(masked, m.end() - 1)
      val items = splitItems(masked, aStart, aEnd)
      if (items.length == 3) {
        val first = sql.substring(items.head._1, items.head._2).trim
          .stripPrefix("'").stripSuffix("'")
          .toLowerCase(java.util.Locale.ROOT)
        if (ClickHouseFunctions.ChAddUnits.contains(first)) {
          val target =
            if (m.group(1).toLowerCase(java.util.Locale.ROOT).contains("sub"))
              "graft_ch_datesub"
            else "graft_ch_dateadd"
          // The unit is QUOTED in the emitted text: a bare keyword would
          // sit in the call as an unresolvable column reference, and an
          // UnresolvedFunction whose children never resolve is never
          // handed to the builder at all (childrenResolved gates
          // ResolveFunctions) — the analyzer reports the phantom column
          // instead of reaching the rename's target.
          return sql.substring(0, m.start()) + target + "('" + first + "'" +
            sql.substring(items.head._2)
        }
      }
    }
    sql
  }

  // -------------------------------------- 13. star column transformers

  private val StarModRe = java.util.regex.Pattern.compile(
    "(?i)\\*\\s+(EXCEPT|REPLACE|APPLY)\\b")
  private val PlainIdentRe = java.util.regex.Pattern.compile(
    "[A-Za-z_][A-Za-z0-9_]*")

  /** ClickHouse's `* EXCEPT … / REPLACE(expr AS col) / APPLY(func)`
    * column transformers. Spark already parses the parenthesized
    * `* EXCEPT (a, b)` natively (this layer's own rewrites emit it), so
    * that form passes through; everything else expands the star into an
    * EXPLICIT column list against the FROM table's registered schema
    * (the dictGet session-lookup pattern):
    *
    *   - `EXCEPT col` (paren-less) and `EXCEPT (a, b)` drop columns —
    *     LENIENT on absent names as ClickHouse's default, with the
    *     `STRICT` keyword raising (ClickHouse's EXCEPT STRICT);
    *   - `REPLACE (expr AS col [, …])` substitutes the expression at
    *     the column's ORIGINAL position, keeping its name — lenient /
    *     STRICT as above;
    *   - `APPLY func` / `APPLY(func)` wraps every remaining column,
    *     naming results `func(col)` (ClickHouse's output names; the
    *     alias is backtick-quoted). Chained APPLYs compose left to
    *     right.
    *
    * Modifiers process LEFT TO RIGHT in any order/repetition. Needs the
    * star's relation to be ONE registered table/view: a subquery, join,
    * or comma-list FROM is a named error (spell the list explicitly),
    * as is a lambda APPLY (`APPLY x -> …`) or an unregistered table.
    * `t.*` qualified stars pass through untouched.
    */
  /** True when the `*` at `star` is a SELECT-LIST star — the previous
    * non-space token is SELECT, DISTINCT, a comma, or an opening paren.
    * Anything else (`price * replace`, `2 * apply`) is MULTIPLICATION
    * by a column that happens to be named like a modifier keyword, and
    * the transformer path must not engage (the r12 regex alone threw a
    * false-positive error on such valid SQL). The scan-back uses the
    * [[charClasses]] scanner (r14 — the isIndexingBracket discipline):
    * COMMENTS are air it skips over (`SELECT /* note */ * EXCEPT(x)`
    * must still expand), while a quoted span (backtick/double-quoted
    * identifier, string literal) is an expression OPERAND that stops
    * the scan — both read as whitespace in `masked`, so the earlier
    * masked-whitespace heuristic conflated them and dropped commented
    * transformers to a Spark parse error.
    */
  private def isSelectListStar(sql: String, masked: String,
      cls: Array[Byte], star: Int): Boolean = {
    var i = star - 1
    while (i >= 0 && isAir(sql, cls, i)) i -= 1
    if (i < 0) return true // a leading `*` can only be a select star
    if (cls(i) == 2) return false // a quoted operand — multiplication
    val c = masked.charAt(i)
    if (c == ',' || c == '(') return true
    if (!isWordChar(c)) return false
    var j = i
    while (j >= 0 && isWordChar(masked.charAt(j))) j -= 1
    val w = masked.substring(j + 1, i + 1)
    w.equalsIgnoreCase("SELECT") || w.equalsIgnoreCase("DISTINCT")
  }

  private def rewriteStarTransformers(sql: String, masked: String): String = {
    val m = StarModRe.matcher(masked)
    val cls = charClasses(sql)
    while (m.find()) {
      // A qualified star (t.* EXCEPT …) is left to Spark; a `*` that is
      // not a select-list star is multiplication, not a transformer.
      if (m.start() > 0 && masked.charAt(m.start() - 1) == '.') {
        // keep scanning
      } else if (!isSelectListStar(sql, masked, cls, m.start())) {
        // keep scanning — `expr * replace/apply/except_col` is arithmetic
      } else {
        val out = expandStar(sql, masked, m.start())
        if (out ne sql) return out
      }
    }
    sql
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException("ClickHouse SQL: " + msg)

  private def expandStar(sql: String, masked: String, star: Int): String = {
    def skipWs(i0: Int): Int = {
      var i = i0
      while (i < masked.length && masked.charAt(i).isWhitespace) i += 1
      i
    }
    def wordAt(i: Int, w: String): Boolean =
      masked.regionMatches(true, i, w, 0, w.length) &&
        (i + w.length >= masked.length || !isWordChar(masked.charAt(i + w.length)))
    def readIdent(i0: Int): Option[(String, Int)] = {
      val mm = PlainIdentRe.matcher(masked)
      if (mm.find(i0) && mm.start() == i0) Some((sql.substring(mm.start(), mm.end()), mm.end()))
      else None
    }
    // Parse the modifier chain.
    sealed trait Mod
    case class Except(names: Seq[String], strict: Boolean) extends Mod
    case class Replace(items: Seq[(String, String)], strict: Boolean) extends Mod
    case class Apply_(fn: String) extends Mod
    var cur = skipWs(star + 1)
    val mods = scala.collection.mutable.ArrayBuffer.empty[Mod]
    var onlyParenExcept = true
    var go = true
    while (go) {
      if (wordAt(cur, "EXCEPT")) {
        var i = skipWs(cur + 6)
        val strict = wordAt(i, "STRICT")
        if (strict) i = skipWs(i + 6)
        if (i < masked.length && masked.charAt(i) == '(') {
          val (cs, ce, after) = parenSpan(masked, i)
          val names = splitItems(masked, cs, ce).map { case (s0, e0) =>
            val t = sql.substring(s0, e0).trim
            if (!PlainIdentRe.matcher(t).matches()) fail(
              s"* EXCEPT takes plain column names, got '$t'")
            t
          }
          if (strict) onlyParenExcept = false
          mods += Except(names, strict)
          cur = skipWs(after)
        } else readIdent(i) match {
          case Some((name, after)) if !name.equalsIgnoreCase("SELECT") =>
            onlyParenExcept = false
            mods += Except(Seq(name), strict)
            cur = skipWs(after)
          case _ => fail("* EXCEPT needs a column name or (list)")
        }
      } else if (wordAt(cur, "REPLACE")) {
        onlyParenExcept = false
        var i = skipWs(cur + 7)
        val strict = wordAt(i, "STRICT")
        if (strict) i = skipWs(i + 6)
        if (i >= masked.length || masked.charAt(i) != '(') fail(
          "* REPLACE needs a parenthesized list: REPLACE (expr AS col, …)")
        val (cs, ce, after) = parenSpan(masked, i)
        val items = splitItems(masked, cs, ce).map { case (s0, e0) =>
          val im = ItemAliasRe.matcher(masked.substring(s0, e0))
          if (!im.matches()) fail(
            "* REPLACE items must be 'expr AS col', got '" +
              sql.substring(s0, e0).trim + "'")
          (sql.substring(s0, s0 + im.end(1)).trim, im.group(2))
        }
        mods += Replace(items, strict)
        cur = skipWs(after)
      } else if (wordAt(cur, "APPLY")) {
        onlyParenExcept = false
        val i = skipWs(cur + 5)
        if (i < masked.length && masked.charAt(i) == '(') {
          val (cs, ce, after) = parenSpan(masked, i)
          val inner = sql.substring(cs, ce).trim
          if (!PlainIdentRe.matcher(inner).matches()) fail(
            s"* APPLY takes a bare function name (lambdas have no column-" +
              s"name contract to expand against), got '$inner'")
          mods += Apply_(inner)
          cur = skipWs(after)
        } else readIdent(i) match {
          case Some((fn, after)) =>
            mods += Apply_(fn)
            cur = skipWs(after)
          case None => fail("* APPLY needs a function name")
        }
      } else go = false
    }
    // Parenthesized EXCEPT alone is Spark-native — leave it.
    if (onlyParenExcept) return sql
    // Resolve the star's relation: exactly one registered table/view.
    val fromIdx = findKeyword(masked, cur, "FROM")
    if (fromIdx < 0) fail(
      "* EXCEPT/REPLACE/APPLY needs a FROM table to expand against")
    val tIdx = skipWs(fromIdx + 4)
    if (tIdx < masked.length && masked.charAt(tIdx) == '(') fail(
      "* EXCEPT/REPLACE/APPLY expands against a REGISTERED table's " +
        "schema — name the subquery's columns explicitly instead")
    val (tbl, afterTbl) = readIdent(tIdx).getOrElse(fail(
      "* EXCEPT/REPLACE/APPLY needs a plain FROM table name"))
    // A join or comma-list FROM would make the star span MORE than this
    // table's columns — refuse rather than expand half the star.
    var j = skipWs(afterTbl)
    // Step past an optional alias — including the `AS alias` spelling,
    // which must not be consumed AS the alias itself (that would hide a
    // following JOIN from the guard below).
    readIdent(j) match {
      case Some((w, afterAs)) if w.equalsIgnoreCase("AS") =>
        readIdent(skipWs(afterAs)) match {
          case Some((_, afterAlias)) => j = skipWs(afterAlias)
          case None => ()
        }
      case Some((w, afterAlias)) if !Seq("WHERE", "GROUP", "ORDER", "LIMIT",
        "HAVING", "UNION", "INTERSECT", "EXCEPT", "SETTINGS", "WINDOW",
        "QUALIFY", "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ASOF",
        "GLOBAL", "ANY", "SEMI", "ANTI", "ON", "USING")
        .exists(_.equalsIgnoreCase(w)) =>
        j = skipWs(afterAlias) // a plain alias — step past it
      case _ => ()
    }
    val joinish = (j < masked.length && masked.charAt(j) == ',') ||
      Seq("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ASOF",
        "GLOBAL", "ANY", "SEMI", "ANTI").exists(w => wordAt(j, w))
    if (joinish) fail(
      "* EXCEPT/REPLACE/APPLY over a JOIN would need both sides' " +
        "schemas — spell the column list explicitly")
    val cols = dictSchema(tbl).getOrElse(fail(
      s"* EXCEPT/REPLACE/APPLY: no registered table or view named " +
        s"'$tbl' to read the star's columns from — " +
        "createOrReplaceTempView the data first"))
    // Fold the modifiers over (exprText, outputName, plain).
    var items: Seq[(String, String, Boolean)] =
      cols.map { case (n, _) => (s"`$n`", n, true) }
    mods.foreach {
      case Except(names, strict) =>
        if (strict) names.foreach { n =>
          if (!items.exists(_._2.equalsIgnoreCase(n))) fail(
            s"* EXCEPT STRICT: no column '$n' to drop")
        }
        items = items.filterNot(it => names.exists(_.equalsIgnoreCase(it._2)))
      case Replace(reps, strict) =>
        if (strict) reps.foreach { case (_, n) =>
          if (!items.exists(_._2.equalsIgnoreCase(n))) fail(
            s"* REPLACE STRICT: no column '$n' to replace")
        }
        items = items.map { case it @ (_, n, _) =>
          reps.find(_._2.equalsIgnoreCase(n)) match {
            case Some((expr, _)) => (s"($expr\n)", n, false)
            case None => it
          }
        }
      case Apply_(fn) =>
        items = items.map { case (e, n, _) => (s"$fn($e\n)", s"$fn($n)", false) }
    }
    if (items.isEmpty) fail(
      "* EXCEPT/REPLACE/APPLY left no columns to select")
    val list = items.map {
      case (e, n, true) => e
      case (e, n, false) => s"$e AS `$n`"
    }.mkString(", ")
    sql.substring(0, star) + list + " " + sql.substring(cur).stripLeading()
  }

  // ------------------------------------------------------ 9b. position

  private val PositionRe = java.util.regex.Pattern.compile(
    "(?i)\\bposition\\s*\\(")

  /** ClickHouse's bare `position(haystack, needle[, start])` →
    * `graft_ch_position`. Renamed TEXTUALLY because Spark's own
    * `position` exists with the ARGUMENTS REVERSED (needle first) — an
    * unmapped call RUNS and is silently wrong, the one failure mode this
    * layer exists to prevent. The standard `position(needle IN
    * haystack)` spelling means the same thing in both dialects and
    * passes through untouched (detected as a top-level IN inside the
    * call's parens on the masked text).
    */
  private def rewritePosition(sql: String, masked: String): String = {
    val m = PositionRe.matcher(masked)
    while (m.find()) {
      val open = masked.indexOf('(', m.start())
      val (cs, ce, _) = parenSpan(masked, open)
      // The ClickHouse form ALWAYS has a depth-0 comma between haystack
      // and needle; the standard `position(needle IN haystack)` never
      // does. Discriminating on the comma (not on the presence of an
      // IN keyword) keeps calls whose ARGUMENTS contain a depth-0 IN —
      // e.g. a CASE … WHEN code IN (1, 2) — on the rename path instead
      // of silently falling back to Spark's reversed-argument builtin.
      if (splitItems(masked, cs, ce).length > 1)
        return sql.substring(0, m.start()) + "graft_ch_position" +
          sql.substring(open)
    }
    sql
  }

  // ----------------------------------------------------- 8. ARRAY JOIN

  private val ArrayJoinRe = java.util.regex.Pattern.compile(
    "(?i)\\b(LEFT\\s+)?ARRAY\\s+JOIN\\b")
  private val ItemAliasRe = java.util.regex.Pattern.compile(
    "(?is)^(.*\\S)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$")

  /** ClickHouse's `ARRAY JOIN arr AS x [, arr2 AS y]` clause → `LATERAL
    * VIEW explode`. Multiple arrays ZIP element-wise (ClickHouse
    * semantics, NOT a cartesian): they ride one `inline(arrays_zip(…))`
    * guarded by a size-equality check that raises the same runtime error
    * ClickHouse does on ragged arrays. The no-alias form (ClickHouse
    * REPLACES the source column in place, which a textual rewrite cannot
    * express without shadowing) and `LEFT ARRAY JOIN` (keeps empty-array
    * rows with TYPE DEFAULTS the text cannot know) are named errors with
    * the explicit spellings in the message.
    */
  private def rewriteArrayJoin(sql: String, masked: String): String = {
    val m = ArrayJoinRe.matcher(masked)
    if (!m.find()) return sql
    if (m.group(1) != null) throw new IllegalArgumentException(
      "ClickHouse SQL: LEFT ARRAY JOIN fills empty-array rows with type " +
        "defaults this rewrite cannot know — make the default explicit: " +
        "ARRAY JOIN if(empty(arr), [<default>], arr) AS x")
    val end = clauseEnd(masked, m.end(),
      Seq("PREWHERE", "WHERE", "GROUP", "HAVING", "QUALIFY") ++ ClauseEnders)
    // A following join also ends the items (clauseEnd only knows clause
    // keywords): cut at the first depth-0 join introducer.
    var itemsEnd = end
    var i = m.end()
    var depth = 0
    while (i < itemsEnd) {
      val c = masked.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && (i == 0 ||
          (!isWordChar(masked.charAt(i - 1)) && masked.charAt(i - 1) != '.')) &&
          AsOfSqlRewrite.isJoinIntro(masked, i)) { itemsEnd = i }
      i += 1
    }
    val items = splitItems(masked, m.end(), itemsEnd).map { case (s0, e0) =>
      val im = ItemAliasRe.matcher(masked.substring(s0, e0))
      if (!im.matches()) throw new IllegalArgumentException(
        "ClickHouse SQL: ARRAY JOIN items need an alias (the no-alias " +
          "form replaces the source column in place, which this rewrite " +
          "cannot express) — write ARRAY JOIN arr AS x")
      (sql.substring(s0, s0 + im.end(1)).trim, im.group(2))
    }
    if (items.isEmpty) throw new IllegalArgumentException(
      "ClickHouse SQL: ARRAY JOIN needs at least one array")
    val repl =
      if (items.length == 1)
        s"LATERAL VIEW explode(${items.head._1}\n) __graft_aj AS ${items.head._2}"
      else {
        val exprs = items.map(_._1)
        val sizeGuard = exprs.tail.map(e =>
          s"size(${exprs.head}\n) = size($e\n)").mkString(" AND ")
        s"LATERAL VIEW inline(CASE WHEN $sizeGuard THEN arrays_zip(" +
          exprs.mkString("\n, ") + "\n) ELSE raise_error('ClickHouse SQL: " +
          "ARRAY JOIN arrays must have equal sizes per row') END) " +
          s"__graft_aj AS ${items.map(_._2).mkString(", ")}"
      }
    sql.substring(0, m.start()) + repl + " " + sql.substring(itemsEnd)
  }

  // --------------------------- 7. join locality / strictness modifiers

  // GLOBAL only before a join introducer: in ClickHouse it moves the
  // right side to every shard — pure distribution, identical results —
  // so it strips.
  private val GlobalJoinRe = java.util.regex.Pattern.compile(
    "(?i)\\bGLOBAL\\s+(?=(?:ANY|ALL|ASOF|SEMI|ANTI|INNER|LEFT|RIGHT|FULL|CROSS|JOIN)\\b)")
  // `expr GLOBAL [NOT] IN (...)` — the IN spelling of the same shard
  // distribution: semantics-neutral on a single engine, so it strips
  // too. The hazard is `global` as a COLUMN name (`WHERE global IN
  // (1,2)`), told apart by context: the MODIFIER always follows an
  // expression terminator (identifier, ')', ']', a literal), while an
  // operand `global` follows a keyword, comma, operator, or opening
  // paren — positions that NEED an operand next.
  private val GlobalInRe = java.util.regex.Pattern.compile(
    "(?i)\\bGLOBAL\\s+(?=(?:NOT\\s+)?IN\\b)")
  private val GlobalInOperandKw = Set("SELECT", "WHERE", "AND", "OR", "NOT",
    "ON", "WHEN", "THEN", "ELSE", "BY", "HAVING", "CASE", "DISTINCT", "ALL",
    "ANY", "SOME", "IN", "AS", "LIKE", "BETWEEN", "FROM", "JOIN", "UNION",
    "INTERSECT", "EXCEPT", "VALUES", "SET", "RETURN", "LATERAL", "OVER")
  // ClickHouse's ALL strictness prefix is its JOIN default — strips.
  // `UNION ALL` / `= ALL (subquery)` never precede a join introducer.
  private val AllJoinRe = java.util.regex.Pattern.compile(
    "(?i)\\bALL\\s+(?=(?:INNER|LEFT|RIGHT|FULL|JOIN)\\b)")
  // ANY strictness in either word order (ClickHouse accepts both).
  private val AnyJoinRe = java.util.regex.Pattern.compile(
    "(?i)\\b(?:ANY\\s+(?:INNER|LEFT|RIGHT|FULL)(?:\\s+OUTER)?\\s+JOIN|(?:INNER|LEFT|RIGHT|FULL)\\s+ANY\\s+JOIN|ANY\\s+JOIN)\\b")
  private val SemiAntiRe = java.util.regex.Pattern.compile(
    "(?i)\\b(SEMI|ANTI)\\s+(LEFT|RIGHT)\\s+JOIN\\b")

  /** Opt-in ANY JOIN determinization. ClickHouse's `ANY [LEFT] JOIN`
    * keeps ONE ARBITRARY matching right row per key — not reproducible
    * bit-exactly, so by default it stays a named error. With the session
    * conf `spark.graft.clickhouse.determinizeAnyJoin = true` the engine
    * instead DETERMINIZES it: the right side (a plain registered
    * view/table, so its schema is known) collapses to one row per join
    * key — the row that sorts FIRST by ALL its columns in schema order
    * (`row_number() = 1`) — before a standard [LEFT] JOIN. This is a
    * stated determinization, NOT ClickHouse's pick: diffing against a
    * live ClickHouse can differ on multi-match keys, which is exactly
    * why it is opt-in. Returns None (→ the named error) for the shapes
    * the determinization cannot do honestly: RIGHT/FULL ANY, subquery
    * right sides, non-equality ON conjuncts, ambiguous key attribution,
    * a right table with MAP columns (no total order), OR in the ON.
    * Scale: the dedup is one row_number window partitioned by the join
    * key — the WindowGroupLimit shape — and the join itself is whatever
    * Spark picks for the deduplicated (smaller) right side.
    */
  private val AnyJoinOptInKey = "spark.graft.clickhouse.determinizeAnyJoin"

  private def determinizeAnyJoin(sql: String, masked: String,
      mStart: Int, mEnd: Int): Option[String] = {
    val enabled = org.apache.spark.sql.SparkSession.getActiveSession.exists(
      s => s.conf.getOption(AnyJoinOptInKey).exists(_.equalsIgnoreCase("true")))
    if (!enabled) return None
    val joinWords = masked.substring(mStart, mEnd).trim
      .split("\\s+").map(_.toUpperCase).toSeq
    if (joinWords.contains("RIGHT") || joinWords.contains("FULL")) return None
    val joinType = if (joinWords.contains("LEFT")) "LEFT JOIN" else "JOIN"
    var i = mEnd
    // RAW-side whitespace: the mask blanks quoted identifiers to spaces,
    // and skipping over one here would silently swallow it from the
    // rebuilt text. A backticked table or alias bails to the named
    // error instead (the determinization needs plain names).
    def ws(): Unit = { while (i < sql.length && sql.charAt(i).isWhitespace) i += 1 }
    ws()
    val tStart = i
    while (i < masked.length && (isWordChar(masked.charAt(i)) || masked.charAt(i) == '.')) i += 1
    if (i == tStart) return None
    val tbl = sql.substring(tStart, i)
    ws()
    if (i < sql.length && (sql.charAt(i) == '`' || sql.charAt(i) == '"')) return None
    var alias = tbl
    val kwStop = Set("ON", "USING", "WHERE", "GROUP", "ORDER", "LIMIT",
      "HAVING", "JOIN", "LEFT", "RIGHT", "INNER", "FULL", "CROSS", "UNION",
      "INTERSECT", "EXCEPT", "SETTINGS", "QUALIFY", "PREWHERE", "WINDOW")
    if (masked.regionMatches(true, i, "AS", 0, 2) &&
        (i + 2 >= masked.length || !isWordChar(masked.charAt(i + 2)))) {
      i += 2; ws()
      val aStart = i
      while (i < masked.length && isWordChar(masked.charAt(i))) i += 1
      if (i == aStart) return None
      alias = sql.substring(aStart, i); ws()
    } else {
      var j = i
      while (j < masked.length && isWordChar(masked.charAt(j))) j += 1
      if (j > i && !kwStop.contains(masked.substring(i, j).toUpperCase)) {
        alias = sql.substring(i, j); i = j; ws()
      }
    }
    val tblEnd = i
    // A dotted table name with NO explicit alias cannot be re-aliased
    // faithfully: `AS db.t` is invalid and a bare-part alias would break
    // fully-qualified ON references — bail to the named error.
    if (alias == tbl && tbl.contains('.')) return None
    val cols = dictSchema(tbl).getOrElse(return None)
    if (cols.exists(_._2.isInstanceOf[MapType])) return None
    val colSet = cols.map(_._1).toSet
    def word(kw: String): Boolean =
      masked.regionMatches(true, i, kw, 0, kw.length) &&
        (i + kw.length >= masked.length || !isWordChar(masked.charAt(i + kw.length)))
    val keys: Seq[String] =
      if (word("USING")) {
        val (uStart, uEnd, _) = parenSpan(masked, i + 5)
        splitItems(masked, uStart, uEnd)
          .map { case (s0, e0) => sql.substring(s0, e0).trim }
      } else if (word("ON")) {
        val onStart = i + 2
        val onEnd = clauseEnd(masked, onStart,
          WhereEnders ++ Seq("WHERE", "JOIN"))
        // Depth-0 AND split (OR → None: the determinization must know
        // exactly which columns key the join).
        val parts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var st = onStart
        var depth = 0
        var p = onStart
        while (p < onEnd) {
          val c = masked.charAt(p)
          if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          else if (depth == 0 && (p == 0 || !isWordChar(masked.charAt(p - 1)))) {
            if (masked.regionMatches(true, p, "OR", 0, 2) &&
                (p + 2 >= onEnd || !isWordChar(masked.charAt(p + 2)))) return None
            if (masked.regionMatches(true, p, "AND", 0, 3) &&
                (p + 3 >= onEnd || !isWordChar(masked.charAt(p + 3)))) {
              parts += ((st, p)); st = p + 3
            }
          }
          p += 1
        }
        parts += ((st, onEnd))
        val Qual = ("(?i)(" + java.util.regex.Pattern.quote(alias) + "|" +
          java.util.regex.Pattern.quote(tbl) + ")\\.([A-Za-z_][A-Za-z0-9_]*)").r
        def rightKey(x: String): Option[String] = x match {
          case Qual(_, c) if colSet(c) => Some(c)
          case id if id.matches("[A-Za-z_][A-Za-z0-9_]*") && colSet(id) => Some(id)
          case _ => None
        }
        val ks = scala.collection.mutable.ArrayBuffer.empty[String]
        for ((s0, e0) <- parts) {
          var eq = -1
          var d2 = 0
          var q = s0
          while (q < e0) {
            val c = masked.charAt(q)
            if (c == '(') d2 += 1
            else if (c == ')') d2 -= 1
            else if (c == '=' && d2 == 0) {
              if (eq >= 0) return None // second '=' (e.g. '==') — bail
              if (q > s0 && "<>!".contains(masked.charAt(q - 1))) return None
              eq = q
            }
            q += 1
          }
          if (eq < 0) return None
          (rightKey(sql.substring(s0, eq).trim),
            rightKey(sql.substring(eq + 1, e0).trim)) match {
            case (Some(k), None) => ks += k
            case (None, Some(k)) => ks += k
            case _ => return None
          }
        }
        if (ks.isEmpty) return None
        ks.toSeq
      } else return None
    if (!keys.forall(k => k.matches("[A-Za-z_][A-Za-z0-9_]*") && colSet(k)))
      return None
    val orderAll = cols.map(c => s"`${c._1}`").mkString(", ")
    val part = keys.map(k => s"`$k`").mkString(", ")
    Some(sql.substring(0, mStart) + joinType +
      " (SELECT * EXCEPT (__graft_any_rn) FROM (SELECT *, row_number()" +
      s" OVER (PARTITION BY $part ORDER BY $orderAll) AS __graft_any_rn" +
      s" FROM $tbl) WHERE __graft_any_rn = 1) AS $alias " +
      sql.substring(tblEnd))
  }

  /** ClickHouse's join modifiers: `GLOBAL` (shard distribution) and the
    * `ALL` strictness default strip — result-identical; `SEMI LEFT` /
    * `ANTI LEFT` (ClickHouse puts strictness first) normalize to Spark's
    * `LEFT SEMI` / `LEFT ANTI`; `ANY` (one ARBITRARY match per key) is a
    * NAMED error by default — see [[determinizeAnyJoin]] for the opt-in
    * deterministic mapping — and the right-sided semi/anti stay named
    * errors (no Spark join type).
    */
  private def rewriteJoinModifiers(sql: String, masked: String): String = {
    val any = AnyJoinRe.matcher(masked)
    if (any.find()) {
      determinizeAnyJoin(sql, masked, any.start(), any.end()) match {
        case Some(r) => return r
        case None => throw new IllegalArgumentException(
          "ClickHouse SQL: ANY JOIN picks one arbitrary match per key, " +
            "which is not reproducible bit-exactly — use ASOF JOIN for " +
            "latest-by-time, LIMIT 1 BY key with an ORDER BY for a " +
            "deterministic pick, or opt into the engine's stated " +
            s"determinization (set $AnyJoinOptInKey=true: the right side " +
            "keeps the row sorting FIRST by all its columns per join key " +
            "— deterministic, but NOT ClickHouse's arbitrary pick; plain " +
            "view right sides with equality keys only)")
      }
    }
    val sa = SemiAntiRe.matcher(masked)
    if (sa.find()) {
      val strictness = sa.group(1).toUpperCase
      if (sa.group(2).equalsIgnoreCase("RIGHT")) throw new IllegalArgumentException(
        s"ClickHouse SQL: $strictness RIGHT JOIN has no Spark counterpart " +
          s"— swap the join sides and use LEFT $strictness JOIN")
      return sql.substring(0, sa.start()) + s"LEFT $strictness JOIN" +
        sql.substring(sa.end())
    }
    val g = GlobalJoinRe.matcher(masked)
    if (g.find()) return sql.substring(0, g.start()) + sql.substring(g.end())
    val all = AllJoinRe.matcher(masked)
    if (all.find()) return sql.substring(0, all.start()) + sql.substring(all.end())
    val gi = GlobalInRe.matcher(masked)
    var giFrom = 0
    while (gi.find(giFrom)) {
      // Walk back over RAW whitespace and BLOCK COMMENTS (both masked to
      // blanks — but a comment is transparent context while a string
      // literal is an expression terminator; the raw text tells them
      // apart: a comment span ends in '*/', a masked literal in its
      // closing quote). A masked-blank stop whose raw char is a closing
      // quote means a literal/quoted-identifier operand end → modifier;
      // any other masked-blank raw char (a line comment's content, a
      // malformed span) reads conservatively as NOT the modifier.
      var p = gi.start() - 1
      var walking = true
      while (walking) {
        while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
        if (p >= 1 && masked.charAt(p) == ' ' && sql.charAt(p) == '/' &&
            sql.charAt(p - 1) == '*') {
          val open = sql.lastIndexOf("/*", p - 1)
          if (open >= 0) p = open - 1 else { walking = false }
        } else walking = false
      }
      val isModifier = p >= 0 && {
        val ch = masked.charAt(p)
        val raw = sql.charAt(p)
        if (ch == ' ')
          raw == '\'' || raw == '"' || raw == '`' // masked literal end
        else if (ch == ')' || ch == ']') true
        else if (isWordChar(ch)) {
          var q = p
          while (q >= 0 && isWordChar(masked.charAt(q))) q -= 1
          !GlobalInOperandKw.contains(masked.substring(q + 1, p + 1).toUpperCase)
        } else false
      }
      if (isModifier)
        return sql.substring(0, gi.start()) + sql.substring(gi.end())
      giFrom = gi.end()
    }
    sql
  }

  // ----------------------------------------- table modifiers (named errors)

  // The table-name slot must not match a CLAUSE KEYWORD: masking blanks
  // a backticked table name to spaces, after which `FROM `t` WHERE
  // sample = 1` reads `FROM <spaces> WHERE sample ...` and WHERE would
  // pose as the table (the rewrite-prop sweep caught this). SAMPLE is
  // additionally anchored on its mandatory numeric argument — an
  // identifier named `sample` is never followed by a bare number in
  // parseable standard SQL, so the anchor removes the collision class
  // entirely for SAMPLE.
  private val NotClauseKw = "(?!(?:WHERE|GROUP|ORDER|HAVING|LIMIT|QUALIFY|" +
    "PREWHERE|SETTINGS|WINDOW|UNION|EXCEPT|INTERSECT|SELECT|JOIN|ON|USING|" +
    "INNER|LEFT|RIGHT|FULL|CROSS|AS)\\b)"
  private val FinalRe = java.util.regex.Pattern.compile(
    s"(?i)\\b(?:FROM|JOIN)\\s+$NotClauseKw[A-Za-z_][\\w.]*\\s+FINAL\\b")
  private val SampleRe = java.util.regex.Pattern.compile(
    s"(?i)\\b(?:FROM|JOIN)\\s+$NotClauseKw[A-Za-z_][\\w.]*\\s+SAMPLE\\s+[0-9.]")

  /** A call of ClickHouse's `xxHash64`, spelled as ClickHouse resolves it
    * (case-sensitively). It shares Spark's `xxhash64` name, and no engine
    * walk replaces a Spark built-in, so the registry cannot hold the hash
    * family's named error for it ([[ClickHouseFunctions.hashError]]): the
    * dialect raises it here. Spark's own `xxhash64`, the spelling the
    * SAMPLE error recommends, passes.
    */
  private val XxHash64Re = java.util.regex.Pattern.compile("(?<![\\w.$])xxHash64\\s*\\(")

  /** `FROM t FINAL` and `FROM t SAMPLE k` cannot be translated without
    * silently changing results, so both are NAMED errors: FINAL's
    * collapse depends on the table engine's merge semantics
    * (ReplacingMergeTree version rules this engine does not have), and
    * ClickHouse SAMPLE is DETERMINISTIC over the table's declared
    * sampling key where any mapping here would be seeded-random.
    */
  private def failOnTableModifiers(masked: String): Unit = {
    if (FinalRe.matcher(masked).find())
      throw new IllegalArgumentException(
        "ClickHouse SQL: FINAL is not supported — its collapse depends on " +
          "the ReplacingMergeTree engine's merge rules; deduplicate " +
          "explicitly, e.g. ORDER BY version DESC LIMIT 1 BY key")
    if (SampleRe.matcher(masked).find())
      throw new IllegalArgumentException(
        "ClickHouse SQL: SAMPLE is not supported — ClickHouse samples " +
          "deterministically over the table's sampling key; filter on a " +
          "hash instead, e.g. WHERE xxhash64(key) % 10 = 0")
  }

  // -------------------------------------------------------- 6. WITH TOTALS

  private val TotalsRe = java.util.regex.Pattern.compile(
    "(?i)\\bWITH\\s+(TOTALS|ROLLUP|CUBE)\\b")

  /** The ClickHouse GROUP BY modifiers: `WITH TOTALS` → `GROUPING SETS
    * ((<keys>), ())` (the standard-SQL spelling of an appended all-rows
    * total), `WITH ROLLUP` → `ROLLUP(<keys>)`, `WITH CUBE` →
    * `CUBE(<keys>)` — identical subtotal lattices in both engines. The
    * subtotal rows carry NULL group keys (where ClickHouse delivers
    * default-valued keys — a transport difference, documented, not a
    * value difference) and sort wherever the query's ORDER BY puts
    * NULLs. `HAVING` alongside any modifier is a NAMED error:
    * ClickHouse's totals_mode setting makes the subtotal/HAVING
    * interaction configuration-dependent, which a bit-exact engine
    * refuses to guess. A `WITH totals AS (…)` CTE does not match the
    * structural conditions (owning SELECT + preceding GROUP BY) and
    * passes through untouched.
    */
  private def rewriteWithTotals(sql: String, masked: String): String = {
    val m = TotalsRe.matcher(masked)
    if (!m.find()) return sql
    val tIdx = m.start()
    val kind = m.group(1).toUpperCase
    val (_, selIdx) = owningSelect(masked, tIdx)
    if (selIdx < 0) return sql
    val gIdx = findKeyword(masked, selIdx + 6, "GROUP")
    if (gIdx < 0 || gIdx > tIdx) return sql
    val byIdx = findKeyword(masked, gIdx + 5, "BY")
    if (byIdx < 0 || byIdx > tIdx) return sql
    var k = m.end()
    while (k < masked.length && masked.charAt(k).isWhitespace) k += 1
    if (masked.regionMatches(true, k, "HAVING", 0, 6) &&
        (k + 6 >= masked.length || !isWordChar(masked.charAt(k + 6))))
      throw new IllegalArgumentException(
        s"ClickHouse SQL: WITH $kind alongside HAVING is not supported — " +
          "the interaction depends on ClickHouse's totals_mode setting; " +
          "filter in an outer query instead")
    failIfOrdinal(masked, byIdx + 2, tIdx)
    val keys = sql.substring(byIdx + 2, tIdx).trim
    if (keys.isEmpty) throw new IllegalArgumentException(
      s"ClickHouse SQL: WITH $kind requires grouping keys")
    val grouping = kind match {
      case "TOTALS" => "GROUPING SETS ((" + keys + "\n), ())"
      case "ROLLUP" => "ROLLUP(" + keys + "\n)"
      case _ => "CUBE(" + keys + "\n)"
    }
    sql.substring(0, gIdx) + "GROUP BY " + grouping + sql.substring(m.end())
  }

  // ---------------------------------------------------------------- helpers

  /** Keywords that end a trailing clause (a QUALIFY predicate, a LIMIT BY
    * key list) at relative depth 0.
    */
  private val ClauseEnders = Seq(
    "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT",
    "WINDOW", "SETTINGS", "FORMAT")

  /** WHERE-position predicates additionally end at the mid-query clauses. */
  private val WhereEnders = Seq("GROUP", "HAVING", "QUALIFY") ++ ClauseEnders

  /** End offset of the clause starting at `from`: the first depth-0 ender
    * keyword, the ')' closing the enclosing scope, or end-of-string.
    */
  private def clauseEnd(masked: String, from: Int,
      enders: Seq[String] = ClauseEnders): Int = {
    var i = from
    var depth = 0
    while (i < masked.length) {
      val c = masked.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth < 0) return i }
      else if (depth == 0 && enders.exists(kw =>
          masked.regionMatches(true, i, kw, 0, kw.length) &&
            (i == 0 || !isWordChar(masked.charAt(i - 1))) &&
            (i + kw.length >= masked.length || !isWordChar(masked.charAt(i + kw.length)))))
        return i
      i += 1
    }
    masked.length
  }

  /** SELECT keywords of the scope owning position `at` — (first, last)
    * SELECT seen at `at`'s own paren depth since that scope opened, with
    * deeper records cleared when their scope closes. The LAST is the
    * owning select of a trailing clause; the FIRST bounds the scope's
    * set-operation scan. (−1, −1) if none.
    */
  private def owningSelect(masked: String, at: Int): (Int, Int) = {
    val lastAt = scala.collection.mutable.ArrayBuffer.fill(1)(-1)
    val firstAt = scala.collection.mutable.ArrayBuffer.fill(1)(-1)
    var depth = 0
    var i = 0
    while (i < at) {
      val c = masked.charAt(i)
      if (c == '(') {
        depth += 1
        if (lastAt.size <= depth) { lastAt += -1; firstAt += -1 }
        else { lastAt(depth) = -1; firstAt(depth) = -1 }
      } else if (c == ')') {
        if (depth >= 0 && depth < lastAt.size) { lastAt(depth) = -1; firstAt(depth) = -1 }
        depth -= 1
      } else if (masked.regionMatches(true, i, "SELECT", 0, 6) &&
          (i == 0 || !isWordChar(masked.charAt(i - 1))) &&
          (i + 6 >= masked.length || !isWordChar(masked.charAt(i + 6)))) {
        if (lastAt.size <= depth) {
          lastAt ++= Seq.fill(depth - lastAt.size + 1)(-1)
          firstAt ++= Seq.fill(depth - firstAt.size + 1)(-1)
        }
        lastAt(depth) = i
        if (firstAt(depth) < 0) firstAt(depth) = i
      }
      i += 1
    }
    if (depth >= 0 && depth < lastAt.size) (firstAt(depth), lastAt(depth))
    else (-1, -1)
  }

  private def failIfDistinct(masked: String, selIdx: Int, what: String): Unit = {
    var i = selIdx + 6
    while (i < masked.length && masked.charAt(i).isWhitespace) i += 1
    if (masked.regionMatches(true, i, "DISTINCT", 0, 8) &&
        (i + 8 >= masked.length || !isWordChar(masked.charAt(i + 8))))
      throw new IllegalArgumentException(
        s"ClickHouse SQL: $what under SELECT DISTINCT is not supported " +
          "(ClickHouse filters before the distinct; the rewrite cannot) — " +
          "wrap the DISTINCT in a subquery")
  }

  /** Depth-0 comma split of a masked span: (start, end) offsets per
    * item. Brackets count toward depth alongside parens — a comma
    * inside a `[…]` array literal (or ClickHouse's bracket indexing)
    * belongs to the bracket, not the item list.
    */
  private def splitItems(masked: String, from: Int, until: Int): Seq[(Int, Int)] = {
    val items = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var itemStart = from
    var depth = 0
    var i = from
    while (i <= until) {
      val c = if (i < until) masked.charAt(i) else ','
      if (c == '(' || c == '[') depth += 1
      else if (c == ')' || c == ']') depth -= 1
      else if (c == ',' && depth == 0) {
        items += ((itemStart, i))
        itemStart = i + 1
      }
      i += 1
    }
    items.toSeq
  }

  /** Split a sort item into (expression end, modifier text): trailing
    * `ASC`/`DESC`/`NULLS FIRST`/`NULLS LAST` words peel off the end.
    */
  private def stripSortMods(masked: String, from: Int, until: Int): (Int, String) = {
    val mods = Set("ASC", "DESC", "NULLS", "FIRST", "LAST")
    var e = until
    var continue = true
    while (continue) {
      var j = e - 1
      while (j >= from && masked.charAt(j).isWhitespace) j -= 1
      val wEnd = j + 1
      while (j >= from && isWordChar(masked.charAt(j))) j -= 1
      val wStart = j + 1
      val w = if (wEnd > wStart) masked.substring(wStart, wEnd).toUpperCase else ""
      if (w.nonEmpty && mods.contains(w)) e = wStart else continue = false
    }
    (e, masked.substring(e, until).trim)
  }

  /** True when any depth-0 comma-separated item of `masked` span starts
    * with a bare integer (an ORDER BY / PARTITION BY ordinal).
    */
  private def hasOrdinalItem(masked: String, from: Int, until: Int): Boolean =
    splitItems(masked, from, until).exists { case (s0, e0) =>
      var j = s0
      while (j < e0 && masked.charAt(j).isWhitespace) j += 1
      val d0 = j
      while (j < e0 && masked.charAt(j).isDigit) j += 1
      j > d0 && (j >= e0 || !isWordChar(masked.charAt(j)) && masked.charAt(j) != '.')
    }

  private def failIfOrdinal(masked: String, from: Int, until: Int): Unit =
    if (hasOrdinalItem(masked, from, until))
      throw new IllegalArgumentException(
        "ClickHouse SQL: ordinal ORDER BY / LIMIT BY items are not " +
          "supported here (the rewrite projects sort keys, so an ordinal " +
          "would become a CONSTANT, silently changing semantics) — name " +
          "the columns")

  /** Projected sort keys: each item `(expr) AS __graft_ob_i` joins the
    * select list; the ORDER BY that consumes them references the helper
    * names with the original modifiers. Lets the sort reference select
    * aliases, non-selected base columns, or expressions alike.
    */
  private case class ProjectedSort(selectItems: String, orderBy: String, names: Seq[String])

  private def projectSort(sql: String, masked: String, from: Int, until: Int,
      prefix: String): ProjectedSort = {
    failIfOrdinal(masked, from, until)
    val items = splitItems(masked, from, until)
    if (items.isEmpty || items.forall { case (s, e) => sql.substring(s, e).trim.isEmpty })
      throw new IllegalArgumentException("ClickHouse SQL: empty sort/key list")
    val parts = items.zipWithIndex.map { case ((s0, e0), i) =>
      val (exprEnd, mods) = stripSortMods(masked, s0, e0)
      val expr = sql.substring(s0, exprEnd).trim
      if (expr.isEmpty) throw new IllegalArgumentException(
        "ClickHouse SQL: empty sort/key item")
      val name = s"${prefix}_${i + 1}"
      (s"\n, ($expr\n) AS $name", s"$name $mods".trim, name)
    }
    ProjectedSort(parts.map(_._1).mkString,
      parts.map(_._2).mkString(", "), parts.map(_._3))
  }

  // --------------------------------------- 1. quantile(p)(x) call syntax

  private val ParamAggRe = java.util.regex.Pattern.compile(
    "(?i)\\b(quantilesExactInclusive|quantileExactInclusive|quantilesExactWeighted|quantileExactWeighted|quantileExactLow|quantileExactHigh|quantilesExact|quantileExact|quantilesTDigest|quantileTDigest|quantilesTiming|quantileTiming|quantilesBFloat16|quantileBFloat16|quantileDeterministic|quantiles|quantile|windowFunnel|sequenceMatch|sequenceCount|uniqUpTo|topKWeighted|topK|groupArrayMovingSum|groupArrayMovingAvg|exponentialMovingAverage|largestTriangleThreeBuckets|lttb|sparkbar)\\s*\\(")

  /** `sequenceMatch('(?1).*[(?t op n)](?2)…')` subset: `(?N)` refs
    * separated by `.*`, each gap optionally carrying ONE `(?t op n)`
    * time constraint written immediately before the ref it bounds
    * (leading/trailing `.*` are no-ops and stripped). That form is
    * SUBSEQUENCE existence with per-gap time bounds, which
    * `graft_ch_seq_match`'s (min, max)-last-time fold decides EXACTLY
    * (see [[ClickHouseFunctions]]) — including ClickHouse's
    * one-distinct-event-per-position rule: a single row matching several
    * conditions occupies only one pattern position, because entries are
    * per-ROW bitmasks and every level update reads the PRIOR state.
    * The pattern features whose semantics the fold does not have stay
    * named errors instead of silently changing meaning: adjacency
    * (`(?1)(?2)` — consecutive over matched events), a constraint with
    * no `.*` at all (also adjacency), a constraint NOT adjacent to the
    * ref it bounds (`(?1)(?t>n).*(?2)` — whether it binds the skip or
    * the ref is ambiguous), `(?t == n)` (equality over an achievable-set
    * needs full history, not min/max), and two constraints in one gap.
    */
  private def sequenceMatchRepl(pattern: String, args: String,
      argItems: Seq[String], fname: String = "graft_ch_seq_match"): String = {
    val p = pattern.trim
    if (p.length < 2 || p.charAt(0) != '\'' || p.charAt(p.length - 1) != '\'')
      throw new IllegalArgumentException(
        "ClickHouse SQL: sequenceMatch's parameter must be a single quoted " +
          s"pattern literal, got: $p")
    var inner = p.substring(1, p.length - 1)
    while (inner.startsWith(".*")) inner = inner.substring(2)
    while (inner.endsWith(".*")) inner = inner.substring(0, inner.length - 2)
    // Tokenize: (?N) refs, (?t op n) constraints, .* separators.
    sealed trait Tok
    case class Ref(n: Int) extends Tok
    case class Tc(op: String, n: Long) extends Tok
    case object Sep extends Tok
    val RefRe = "^\\(\\?(\\d+)\\)".r
    val TcRe = "^\\(\\?t\\s*(<=|>=|==|<|>)\\s*(-?\\d+)\\s*\\)".r
    var rest = inner
    val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
    while (rest.nonEmpty) {
      if (rest.startsWith(".*")) { toks += Sep; rest = rest.substring(2) }
      else RefRe.findFirstMatchIn(rest) match {
        case Some(m0) => toks += Ref(m0.group(1).toInt); rest = rest.substring(m0.end)
        case None => TcRe.findFirstMatchIn(rest) match {
          case Some(m0) =>
            toks += Tc(m0.group(1), m0.group(2).toLong)
            rest = rest.substring(m0.end)
          case None => throw new IllegalArgumentException(
            s"ClickHouse SQL: unsupported sequenceMatch pattern $p — the " +
              "supported form is (?N) references separated by .*, each " +
              "optionally preceded by one (?t op n) time constraint")
        }
      }
    }
    // Validate the shape: Ref (Sep+ Tc? Ref)*, folding each gap to its
    // constraint (op code 0 = unconstrained).
    if (toks.isEmpty || !toks.head.isInstanceOf[Ref])
      throw new IllegalArgumentException(
        s"ClickHouse SQL: sequenceMatch pattern $p must start with a (?N) " +
          "reference")
    val refs = scala.collection.mutable.ArrayBuffer(toks.head.asInstanceOf[Ref].n)
    val gaps = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var i0 = 1
    while (i0 < toks.length) {
      var sawSep = false
      while (i0 < toks.length && toks(i0) == Sep) { sawSep = true; i0 += 1 }
      val tc: Option[Tc] = toks.lift(i0) match {
        case Some(t: Tc) =>
          i0 += 1
          if (i0 < toks.length && toks(i0) == Sep) throw new IllegalArgumentException(
            "ClickHouse SQL: a sequenceMatch time constraint must sit " +
              "immediately before the (?N) it bounds — (?1).*(?t<=n)(?2), " +
              "not (?1)(?t<=n).*(?2) (which pair the latter binds is " +
              "ambiguous)")
          Some(t)
        case _ => None
      }
      if (!sawSep) throw new IllegalArgumentException(
        "ClickHouse SQL: adjacent sequenceMatch conditions ((?1)(?2) or " +
          "(?1)(?t op n)(?2) with no .* between) mean adjacency over " +
          "matched events, which this mapping does not have — separate " +
          "the steps with .*")
      toks.lift(i0) match {
        case Some(Ref(n)) => refs += n; i0 += 1
        case Some(t: Tc) => throw new IllegalArgumentException(
          "ClickHouse SQL: at most one (?t op n) time constraint per gap")
        case _ => throw new IllegalArgumentException(
          s"ClickHouse SQL: sequenceMatch pattern $p must end with a (?N) " +
            "reference")
      }
      gaps += (tc match {
        case None => (0, 0L)
        case Some(Tc("<=", n)) => (1, n)
        case Some(Tc("<", n)) => (2, n)
        case Some(Tc(">=", n)) => (3, n)
        case Some(Tc(">", n)) => (4, n)
        case Some(Tc("==", _)) => throw new IllegalArgumentException(
          "ClickHouse SQL: (?t == n) is not supported — the fold tracks " +
            "min/max achievable last-times, and equality needs the full " +
            "set; use a >= and <= pair of steps or windowFunnel")
        case Some(Tc(op, _)) => throw new IllegalArgumentException(
          s"ClickHouse SQL: unsupported time-constraint operator $op")
      })
    }
    if (argItems.length < 2) throw new IllegalArgumentException(
      "ClickHouse SQL: sequenceMatch(pattern)(timestamp, cond1, ...)")
    val conds = argItems.tail
    refs.find(r => r < 1 || r > conds.length).foreach(r =>
      throw new IllegalArgumentException(
        s"ClickHouse SQL: sequenceMatch pattern references condition $r but " +
          s"only ${conds.length} conditions were given"))
    val k = refs.length
    val nums = (Seq(k) ++ gaps.flatMap { case (op, n) => Seq(op, n) }).mkString(", ")
    s"$fname(${argItems.head}\n, $nums, " +
      refs.map(r => conds(r - 1)).mkString(",\n") + "\n)"
  }

  /** ClickHouse's parameterized-aggregate call syntax `agg(params)(args)`.
    * `quantileExactInclusive` → `percentile` (both PERCENTILE.INC linear
    * interpolation); `quantileExact` → `graft_ch_quantile_exact` (the
    * element-at-⌊p·n⌋ convention ClickHouse implements — NOT interpolating,
    * see [[ClickHouseFunctions]]); `quantile` → `approx_percentile`
    * (approx↔approx). Plural forms yield arrays (the element form expands
    * to one call per level).
    */
  private def rewriteParamAgg(sql: String, masked: String): String = {
    val m = ParamAggRe.matcher(masked)
    var searchFrom = 0
    while (m.find(searchFrom)) {
      val name = m.group(1).toLowerCase
      val (pStart, pEnd, afterP) = parenSpan(masked, m.end() - 1)
      var k = afterP
      while (k < masked.length && masked.charAt(k).isWhitespace) k += 1
      if (k < masked.length && masked.charAt(k) == '(') {
        val (aStart, aEnd, afterA) = parenSpan(masked, k)
        val params = sql.substring(pStart, pEnd).trim
        val args = sql.substring(aStart, aEnd).trim
        val repl = name match {
          case "windowfunnel" =>
            val items = splitItems(masked, pStart, pEnd)
              .map { case (s0, e0) => sql.substring(s0, e0).trim }
            if (items.length == 1) s"graft_window_funnel($params\n, $args\n)"
            else {
              // Mode strings are literals by ClickHouse's grammar; fold
              // them to the strict kernel's flag bitmask at rewrite time.
              var flags = 0
              items.tail.foreach { mo =>
                mo.toLowerCase match {
                  case "'strict_order'" => flags |= 1
                  case "'strict_deduplication'" | "'strict_dedup'" => flags |= 2
                  case "'strict_increase'" => flags |= 4
                  case "'strict'" => throw new IllegalArgumentException(
                    "ClickHouse SQL: windowFunnel's deprecated 'strict' " +
                      "mode was removed in ClickHouse 21.x — use " +
                      "'strict_deduplication'")
                  case other => throw new IllegalArgumentException(
                    s"ClickHouse SQL: unknown windowFunnel mode $other — " +
                      "supported: 'strict_order', 'strict_deduplication', " +
                      "'strict_increase'")
                }
              }
              s"graft_window_funnel_strict(${items.head}\n, $flags, $args\n)"
            }
          case "sequencematch" =>
            sequenceMatchRepl(params, args,
              splitItems(masked, aStart, aEnd).map { case (s0, e0) =>
                sql.substring(s0, e0).trim })
          case "sequencecount" =>
            sequenceMatchRepl(params, args,
              splitItems(masked, aStart, aEnd).map { case (s0, e0) =>
                sql.substring(s0, e0).trim }, "graft_ch_seq_count")
          // topKWeighted(n)(x, w): exact top-n by WEIGHT SUM (count desc,
          // value asc tiebreak) — the weighted sibling of the exact topK
          // mapping (ClickHouse's is approximate SpaceSaving; same
          // exact-beats-approx stance, stated in the usage string).
          case "topkweighted" =>
            if (splitItems(masked, pStart, pEnd).length != 1)
              throw new IllegalArgumentException(
                "ClickHouse SQL: topKWeighted takes exactly one parameter N")
            if (splitItems(masked, aStart, aEnd).length != 2)
              throw new IllegalArgumentException(
                "ClickHouse SQL: topKWeighted(N)(x, weight)")
            s"graft_ch_topk_weighted($params\n, $args\n)"
          // groupArrayMovingSum/Avg(n)(x): windowed running arrays in
          // collection order (the groupArray order stance), on the
          // prefix-difference kernel ClickHouse itself uses.
          case "grouparraymovingsum" | "grouparraymovingavg" =>
            if (splitItems(masked, pStart, pEnd).length != 1 ||
              splitItems(masked, aStart, aEnd).length != 1)
              throw new IllegalArgumentException(
                s"ClickHouse SQL: ${m.group(1)}(window)(x)")
            val kind = if (name.endsWith("sum")) "sum" else "avg"
            s"graft_ch_moving_$kind($params\n, $args\n)"
          case "largesttrianglethreebuckets" | "lttb" =>
            if (splitItems(masked, pStart, pEnd).length != 1 ||
              splitItems(masked, aStart, aEnd).length != 2)
              throw new IllegalArgumentException(
                "ClickHouse SQL: largestTriangleThreeBuckets(n)(x, y)")
            s"graft_ch_lttb($params\n, $args\n)"
          // sparkbar(n[, min_x, max_x])(x, y) — the stated-contract
          // renderer (see [[ClickHouseFunctions]]' graft_ch_sparkbar
          // scaladoc for the bucket/glyph rules the r12 named error
          // said ClickHouse's docs don't pin).
          case "sparkbar" =>
            val nParams = splitItems(masked, pStart, pEnd).length
            if ((nParams != 1 && nParams != 3) ||
              splitItems(masked, aStart, aEnd).length != 2)
              throw new IllegalArgumentException(
                "ClickHouse SQL: sparkbar(n[, min_x, max_x])(x, y)")
            s"graft_ch_sparkbar($params\n, $args\n)"
          // exponentialMovingAverage(x)(v, t) — rewritten to the 3-arg
          // registry spelling (the docs-pinned order-independent closed
          // form; see [[ClickHouseFunctions]]).
          case "exponentialmovingaverage" =>
            if (splitItems(masked, pStart, pEnd).length != 1 ||
              splitItems(masked, aStart, aEnd).length != 2)
              throw new IllegalArgumentException(
                "ClickHouse SQL: exponentialMovingAverage(x)(v, t)")
            s"exponentialMovingAverage($params\n, $args\n)"
          // quantileTiming is ClickHouse's third approximate quantile
          // sketch (fixed-bucket timing histogram) — approx↔approx, like
          // bare quantile/quantileTDigest.
          case "quantiletiming" | "quantilebfloat16" =>
            s"approx_percentile($args\n, $params\n)"
          case "quantilestiming" | "quantilesbfloat16" =>
            s"approx_percentile($args\n, array($params\n))"
          // The Low/High variants are Python's median_low / median_high
          // AT level 0.5 only; every other level is the sorted element
          // at 0-based floor(level*n) for both — the kernels' usage
          // strings state the two-branch rule.
          case "quantileexactlow" => s"graft_ch_quantile_exact_low($args\n, $params\n)"
          case "quantileexacthigh" => s"graft_ch_quantile_exact_high($args\n, $params\n)"
          // quantileDeterministic(level)(x, determinator): the
          // determinator only seeds ClickHouse's reservoir sampling (a
          // determinism device, not a semantic input) — the value column
          // alone feeds the approx mapping.
          case "quantiledeterministic" =>
            val items = splitItems(masked, aStart, aEnd)
              .map { case (s0, e0) => sql.substring(s0, e0).trim }
            if (items.length != 2) throw new IllegalArgumentException(
              "ClickHouse SQL: quantileDeterministic(level)(x, determinator)")
            s"approx_percentile(${items.head}\n, $params\n)"
          // uniqUpTo(N)(x…): the exact distinct count while it is ≤ N,
          // saturating at N+1 — which is exactly least(uniqExact, N+1).
          // Emitted as graft_ch_least directly (r14): the fixpoint would
          // rename a bare `least(` anyway, and neither operand is ever
          // NULL, so the null-propagating form is value-identical.
          case "uniqupto" =>
            if (splitItems(masked, pStart, pEnd).length != 1)
              throw new IllegalArgumentException(
                "ClickHouse SQL: uniqUpTo takes exactly one parameter N")
            s"graft_ch_least(count(DISTINCT $args\n), ($params\n) + 1)"
          case "topk" =>
            if (splitItems(masked, pStart, pEnd).length != 1)
              throw new IllegalArgumentException(
                "ClickHouse SQL: topK takes exactly one parameter N " +
                  "(load_factor/counts options are not supported)")
            s"graft_ch_topk($params\n, $args\n)"
          case "quantileexactinclusive" => s"percentile($args\n, $params\n)"
          case "quantilesexactinclusive" => s"percentile($args\n, array($params\n))"
          // quantileTDigest is ClickHouse's other approximate sketch —
          // the same approx-for-approx pairing as bare quantile.
          case "quantile" | "quantiletdigest" => s"approx_percentile($args\n, $params\n)"
          case "quantiles" | "quantilestdigest" => s"approx_percentile($args\n, array($params\n))"
          // quantileExactWeighted(level)(x, w): the discrete weighted
          // quantile — sort by x, walk cumulative weights, return the
          // first value whose running weight reaches level·Σw (the
          // documented discrete rule; see the kernel's scaladoc for the
          // boundary convention and the zero-weight filter).
          case "quantileexactweighted" =>
            if (splitItems(masked, aStart, aEnd).length != 2)
              throw new IllegalArgumentException(
                "ClickHouse SQL: quantileExactWeighted(level)(x, weight)")
            s"graft_ch_quantile_exact_weighted($args\n, $params\n)"
          case "quantilesexactweighted" =>
            val wLevels = splitItems(masked, pStart, pEnd)
              .map { case (s0, e0) => sql.substring(s0, e0).trim }
            if (splitItems(masked, aStart, aEnd).length != 2)
              throw new IllegalArgumentException(
                "ClickHouse SQL: quantilesExactWeighted(levels...)(x, weight)")
            "array(" + wLevels.map(p =>
              s"graft_ch_quantile_exact_weighted($args\n, $p)").mkString(", ") + "\n)"
          case "quantileexact" => s"graft_ch_quantile_exact($args\n, $params\n)"
          case "quantilesexact" =>
            val levels = splitItems(masked, pStart, pEnd)
              .map { case (s0, e0) => sql.substring(s0, e0).trim }
            "array(" + levels.map(p =>
              s"graft_ch_quantile_exact($args\n, $p)").mkString(", ") + "\n)"
        }
        return sql.substring(0, m.start()) + repl + sql.substring(afterA)
      }
      // A single-paren call (no parameter group): not the ClickHouse
      // syntax — leave it for analysis to reject by name.
      searchFrom = m.end()
    }
    sql
  }

  // ------------------------------------------------------------ 2. QUALIFY

  private val QualifyRe = java.util.regex.Pattern.compile("(?i)\\bQUALIFY\\b")

  /** `SELECT <list> FROM … QUALIFY <pred> [ORDER BY <sort>] <tail>` →
    * `SELECT * EXCEPT (helpers) FROM
    *    (SELECT <list>, (<pred>) AS __graft_qualify[, (<sort_i>) AS …]
    *     FROM …)
    *  WHERE __graft_qualify [ORDER BY __graft_ob_i …] <tail>`.
    *
    * The predicate joins the select list, so it may reference select
    * aliases (lateral column alias resolution) and fresh window
    * expressions; a trailing ORDER BY is ABSORBED via projected sort keys
    * so it may reference non-selected base columns (they are gone from
    * the subquery's output otherwise); star-EXCEPT keeps the output
    * schema exactly the original list.
    */
  private def rewriteQualify(sql: String, masked: String): String = {
    val m = QualifyRe.matcher(masked)
    if (!m.find()) return sql
    val qIdx = m.start()
    val (_, selIdx) = owningSelect(masked, qIdx)
    if (selIdx < 0) throw new IllegalArgumentException(
      "ClickHouse SQL: QUALIFY without an owning SELECT")
    failIfDistinct(masked, selIdx, "QUALIFY")
    val fromIdx = findKeyword(masked, selIdx + 6, "FROM")
    if (fromIdx < 0 || fromIdx > qIdx) throw new IllegalArgumentException(
      "ClickHouse SQL: QUALIFY requires a FROM clause")
    val predStart = m.end()
    val predEnd = clauseEnd(masked, predStart)
    val pred = sql.substring(predStart, predEnd).trim
    if (pred.isEmpty) throw new IllegalArgumentException(
      "ClickHouse SQL: empty QUALIFY predicate")
    // Absorb a directly-following ORDER BY through projected sort keys.
    val isOrder = masked.regionMatches(true, predEnd, "ORDER", 0, 5) &&
      (predEnd + 5 >= masked.length || !isWordChar(masked.charAt(predEnd + 5)))
    val (sortOpt, tailStart) =
      if (isOrder) {
        val byIdx = findKeyword(masked, predEnd + 5, "BY")
        if (byIdx < 0) throw new IllegalArgumentException(
          "ClickHouse SQL: malformed ORDER BY")
        val sortEnd = clauseEnd(masked, byIdx + 2)
        (Some(projectSort(sql, masked, byIdx + 2, sortEnd, "__graft_ob")), sortEnd)
      } else (None, predEnd)
    val selectList = sql.substring(selIdx + 6, fromIdx).trim
    val mid = sql.substring(fromIdx, qIdx).trim
    val helperNames = "__graft_qualify" +: sortOpt.map(_.names).getOrElse(Seq.empty)
    sql.substring(0, selIdx) +
      "SELECT * EXCEPT (" + helperNames.mkString(", ") + ") FROM (SELECT " +
      selectList + "\n, (" + pred + "\n) AS __graft_qualify" +
      sortOpt.map(_.selectItems).getOrElse("") + "\n" + mid +
      "\n) WHERE __graft_qualify" +
      sortOpt.map(s => " ORDER BY " + s.orderBy).getOrElse("") +
      " " + sql.substring(tailStart)
  }

  // ----------------------------------------------------------- 3. PREWHERE

  private val PrewhereRe = java.util.regex.Pattern.compile("(?i)\\bPREWHERE\\b")

  /** `PREWHERE pred` → merged into `WHERE`. In ClickHouse PREWHERE is a
    * pure scan optimization (read the predicate's columns first, filter,
    * then read the rest) with the SEMANTICS of an additional conjunct —
    * which is exactly what Catalyst's predicate pushdown + parquet column
    * pruning already do to a plain WHERE, so the merge loses nothing.
    */
  private def rewritePrewhere(sql: String, masked: String): String = {
    val m = PrewhereRe.matcher(masked)
    if (!m.find()) return sql
    val predStart = m.end()
    // The PREWHERE predicate also ends at a following WHERE (the one
    // clause that may legally follow it), besides the shared enders.
    val whereEnd = {
      val w = findKeyword(masked, predStart, "WHERE")
      val e = clauseEnd(masked, predStart, WhereEnders)
      if (w >= 0 && w < e) w else e
    }
    val pred = sql.substring(predStart, whereEnd).trim
    if (pred.isEmpty) throw new IllegalArgumentException(
      "ClickHouse SQL: empty PREWHERE predicate")
    // Merge with a directly-following WHERE when present.
    val k = whereEnd
    val isWhere = masked.regionMatches(true, k, "WHERE", 0, 5) &&
      (k + 5 >= masked.length || !isWordChar(masked.charAt(k + 5)))
    if (isWhere) {
      val wPredStart = k + 5
      val wPredEnd = clauseEnd(masked, wPredStart, WhereEnders)
      val wPred = sql.substring(wPredStart, wPredEnd).trim
      sql.substring(0, m.start()) + s"WHERE ($pred\n) AND ($wPred\n) " +
        sql.substring(wPredEnd)
    } else {
      sql.substring(0, m.start()) + s"WHERE $pred\n " + sql.substring(whereEnd)
    }
  }

  // ----------------------------------------------------------- 4. SETTINGS

  private val SettingsRe = java.util.regex.Pattern.compile("(?i)\\bSETTINGS\\b")

  /** A trailing `SETTINGS name = value, …` clause is STRIPPED: ClickHouse
    * settings are per-query execution tuning (max_threads,
    * max_memory_usage, join algorithm picks …) with no result-set
    * semantics — the Spark-side analogues are session confs, not query
    * text. Dropping them is the faithful translation; anything
    * result-affecting a user might reach for (e.g. limit-by behavior)
    * lives in clauses this layer handles explicitly.
    */
  private def rewriteSettings(sql: String, masked: String): String = {
    val m = SettingsRe.matcher(masked)
    if (!m.find()) return sql
    val end = clauseEnd(masked, m.end())
    sql.substring(0, m.start()) + sql.substring(end)
  }

  // --------------------------------------------------------- 5. LIMIT n BY

  // Both offset spellings ClickHouse accepts: `LIMIT o, n BY` (offset
  // first, MySQL-style) and `LIMIT n OFFSET o BY`. group(1) is always
  // the first number; group(2) = n of the comma form; group(3) = o of
  // the OFFSET form.
  private val LimitByRe = java.util.regex.Pattern.compile(
    "(?i)\\bLIMIT\\s+(\\d+)(?:\\s*,\\s*(\\d+)|\\s+OFFSET\\s+(\\d+))?\\s+BY\\b")

  /** `SELECT <list> FROM … ORDER BY <sort> LIMIT [o,] n BY <keys>
    * [LIMIT m]` → a double wrap over PROJECTED keys and sort
    * expressions:
    *
    * {{{
    * SELECT * EXCEPT (helpers) FROM (
    *   SELECT *, row_number() OVER (PARTITION BY __graft_pb_*
    *                                ORDER BY __graft_ob_* mods) AS __graft_limit_by_rn
    *   FROM (SELECT <list>, (<key_j>) AS __graft_pb_j…,
    *                        (<sort_i>) AS __graft_ob_i… FROM …))
    * WHERE [__graft_limit_by_rn > o AND] __graft_limit_by_rn <= o + n
    * ORDER BY __graft_ob_i mods [LIMIT m]
    * }}}
    *
    * The per-group offset forms — `LIMIT o, n BY` and
    * `LIMIT n OFFSET o BY` — take rank window (o, o + n]: rows o+1
    * through o+n of each group, empty when the group has ≤ o rows
    * (ClickHouse's skip-then-take).
    *
    * Projecting the keys/sort as helper columns (rather than repeating the
    * expressions inside the window spec) lets them reference select
    * aliases, non-selected base columns — the canonical
    * latest-row-per-key query orders by a timestamp it doesn't select —
    * or arbitrary expressions, and the outer ORDER BY on the EXCEPTed
    * helpers re-establishes the final ordering. ORDER BY is REQUIRED:
    * ClickHouse's unordered LIMIT BY picks arbitrary rows per group,
    * which an engine gated on bit-exact oracle diffs must refuse, not
    * emulate.
    */
  private def rewriteLimitBy(sql: String, masked: String): String = {
    val m = LimitByRe.matcher(masked)
    if (!m.find()) return sql
    val lIdx = m.start()
    // `LIMIT o, n BY` / `LIMIT n OFFSET o BY` → rank window rows
    // (offset, offset + n]; the plain form is offset 0.
    val (offset, n) =
      if (m.group(2) != null) (m.group(1).toLong, m.group(2).toLong)
      else if (m.group(3) != null) (m.group(3).toLong, m.group(1).toLong)
      else (0L, m.group(1).toLong)
    val (firstSelIdx, selIdx) = owningSelect(masked, lIdx)
    if (selIdx < 0) throw new IllegalArgumentException(
      "ClickHouse SQL: LIMIT BY without an owning SELECT")
    failIfDistinct(masked, selIdx, "LIMIT BY")
    val keysStart = m.end()
    val keysEnd = clauseEnd(masked, keysStart)
    // A set operator between the scope's first SELECT and the LIMIT BY
    // means the ORDER BY is union-level and the rewrite would mis-scope
    // the filter to one arm. (Star-EXCEPT — `* EXCEPT (…)` — is not a set
    // operator: it is recognized by the preceding '*'.)
    for (op <- Seq("UNION", "INTERSECT", "EXCEPT")) {
      var s = firstSelIdx + 6
      var found = -1
      while (found < 0 && s < lIdx) {
        val idx = findKeyword(masked, s, op)
        if (idx < 0 || idx >= lIdx) s = lIdx
        else {
          var p = idx - 1
          while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
          if (p >= 0 && masked.charAt(p) == '*') s = idx + op.length
          else found = idx
        }
      }
      if (found >= 0) throw new IllegalArgumentException(
        "ClickHouse SQL: LIMIT BY over a set operation is ambiguous — " +
          "wrap the union in a subquery")
    }
    val fromIdx = findKeyword(masked, selIdx + 6, "FROM")
    if (fromIdx < 0 || fromIdx > lIdx) throw new IllegalArgumentException(
      "ClickHouse SQL: LIMIT BY requires a FROM clause")
    val oIdx = findKeyword(masked, selIdx + 6, "ORDER")
    if (oIdx < 0 || oIdx > lIdx) throw new IllegalArgumentException(
      "ClickHouse SQL: LIMIT BY requires an ORDER BY (the unordered form " +
        "picks arbitrary rows per group — order the query to make the " +
        "per-group selection deterministic)")
    val byIdx = findKeyword(masked, oIdx + 5, "BY")
    if (byIdx < 0) throw new IllegalArgumentException(
      "ClickHouse SQL: malformed ORDER BY")
    val keys = projectSort(sql, masked, keysStart, keysEnd, "__graft_pb")
    val sort = projectSort(sql, masked, byIdx + 2, lIdx, "__graft_ob")
    val selectList = sql.substring(selIdx + 6, fromIdx).trim
    val rest = sql.substring(fromIdx, oIdx).trim
    val helperNames = keys.names ++ sort.names :+ "__graft_limit_by_rn"
    sql.substring(0, selIdx) +
      "SELECT * EXCEPT (" + helperNames.mkString(", ") + ") FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY " + keys.names.mkString(", ") +
      " ORDER BY " + sort.orderBy + ") AS __graft_limit_by_rn FROM (SELECT " +
      selectList + keys.selectItems + sort.selectItems + "\n" + rest +
      "\n)) WHERE " +
      (if (offset > 0) s"__graft_limit_by_rn > $offset AND " else "") +
      "__graft_limit_by_rn <= " + (offset + n) +
      " ORDER BY " + sort.orderBy + " " + sql.substring(keysEnd)
  }
}

/** ClickHouse functions as plain Spark expression registrations — shared
  * by `GraftExtensions.injectFunction` and the vanilla-session registrar
  * in [[ClickHouseSql]]. Every mapping is an EXACT-semantics translation
  * onto stock expressions (no UDFs):
  *
  *   - `uniqExact(x…)` → exact distinct count (the aggregate expression
  *     carries the DISTINCT flag); `uniq(x…)` → HyperLogLog++ (ClickHouse
  *     `uniq` is itself approximate — approx↔approx, multi-arg via a
  *     struct key)
  *   - `argMax(a, b)` / `argMin(a, b)` → max_by / min_by
  *   - `countIf(cond)` → count(if(cond, 1, null)) — counts rows where the
  *     condition is true (null-condition rows excluded, as ClickHouse)
  *   - `sumIf(x, cond)` → coalesce(sum(if(cond, x, null)), 0) — ClickHouse
  *     returns 0, not null, when no row matches
  *   - `avgIf(x, cond)` → avg(if(cond, x, null)) — NULL when no row
  *     matches where ClickHouse returns NaN (NaN has no exact SQL
  *     literal; documented divergence)
  *   - `multiIf(c1, v1, …, else)` → CASE WHEN chain
  *   - `has(arr, x)` → array_contains
  *   - `graft_ch_quantile_exact(x, level)` — ClickHouse `quantileExact`'s
  *     documented convention: the SORTED element at index ⌊level·n⌋
  *     (0-based; clamped), NOT linear interpolation — over {10,20,30,50}
  *     at 0.5 ClickHouse returns 30 where an interpolating percentile
  *     returns 25. Composed from collect_list + sort + element_at with
  *     the count-derived index (null on an all-null group — the avgIf
  *     empty convention). Exact-memory like any exact quantile.
  *   - `toInt64/toInt32/toUInt32/toUInt64/toFloat64/toFloat32/toString/
  *     toDate/toDateTime` → casts (UInt32 widens to BIGINT; UInt64 to
  *     DECIMAL(20,0) — the only integral type covering its range)
  *   - date bucketing (`toYear`…`toSecond`, `toStartOf*`, `toYYYYMM[DD]`,
  *     `toUnixTimestamp`) → stock datetime expressions
  *   - behavioral aggregates: `retention(c1…cn)` → an array of 0/1 flags
  *     composed from bool_or aggregates (r[1] = c1 ever met, r[i] = c1
  *     AND c_i each met — ClickHouse's documented independent-rows
  *     semantics); `groupArray`/`groupUniqArray` → collect_list /
  *     collect_set; `anyLast` → last non-null (ClickHouse's `any` is NOT
  *     mapped — Spark's `any` is bool_or and the no-clobber rule keeps
  *     it; use `any_value`)
  *   - array HOFs `arrayMap`/`arrayFilter`/`arrayExists`/`arrayAll`/
  *     `arrayCount` → the stock HOF expressions with the lambda moved
  *     from ClickHouse's first position to Spark's last; `arraySort` →
  *     nulls-LAST ascending sort (ClickHouse's placement — Spark's
  *     sort_array puts nulls first, so the mapping splits and re-concats)
  */
/** ClickHouse bracket indexing, dispatched on the BASE's resolved type
  * (a build-time builder cannot know it): ARRAY indexes cast explicitly
  * to INT — ClickHouse accepts any integer width where Spark's
  * element_at requires INT, and the explicit cast raises loudly on an
  * absurd (>2^31) index instead of silently narrowing — while MAP keys
  * pass through untouched (a key is not an index). Anything else
  * (struct, scalar) raises a named error pointing at tupleElement.
  * RuntimeReplaceable: the analyzer types this node via the replacement
  * (built lazily, after children resolve) and the optimizer swaps it in.
  */
/** ClickHouse `dateAdd(unit, n, d)` typing, dispatched on the resolved
  * input type: ClickHouse returns DATE for a Date input with day-or-
  * coarser units, TIMESTAMP otherwise — a build-time builder cannot
  * know which. The arithmetic itself is Spark's own TimestampAdd (the
  * calendar rules, including the end-of-month clamp, already agree —
  * the toInterval* family pinned that in r12).
  */
case class ChDateAdd(unit: String, n: Expression, d: Expression)
    extends Expression with RuntimeReplaceable {
  override def children: Seq[Expression] = Seq(n, d)
  override lazy val replacement: Expression = {
    // A RuntimeReplaceable's replacement is never re-analyzed, so the
    // time-zone-aware nodes (TimestampAdd, date<->timestamp Casts) must
    // carry the session zone themselves — ResolveTimeZone will not fill
    // them in.
    val zone = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val added = TimestampAdd(unit, Cast(n, LongType),
      Cast(d, TimestampType, zone), zone)
    d.dataType match {
      case DateType if Set("day", "week", "month", "quarter", "year")
        .contains(unit.toLowerCase(java.util.Locale.ROOT)) =>
        Cast(added, DateType, zone)
      case _ => added
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(n = newChildren(0), d = newChildren(1))
}

case class ChBracketIndex(base: Expression, idx: Expression)
    extends Expression with RuntimeReplaceable {
  override def children: Seq[Expression] = Seq(base, idx)
  override lazy val replacement: Expression = base.dataType match {
    case _: ArrayType =>
      ElementAt(base, Cast(idx, IntegerType), None, failOnError = false)
    case _: MapType =>
      ElementAt(base, idx, None, failOnError = false)
    case other => throw new IllegalArgumentException(
      "ClickHouse SQL: bracket indexing needs an array or map base, got " +
        s"${other.simpleString(10)} — tuples/structs use tupleElement(t, n)")
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(base = newChildren(0), idx = newChildren(1))
}

object ClickHouseFunctions {

  private def cast(to: DataType): Seq[Expression] => Expression = { es =>
    require(es.length == 1, s"conversion functions take one argument, got ${es.length}")
    Cast(es.head, to)
  }

  private def one(f: Expression => Expression): Seq[Expression] => Expression = { es =>
    require(es.length == 1, s"date functions take one argument, got ${es.length}")
    f(es.head)
  }

  /** ClickHouse quantileExact's documented convention: the SORTED
    * element at 0-based index ⌊level·n⌋ (1-based ⌊level·n⌋+1, clamped),
    * NOT linear interpolation. Shared by `graft_ch_quantile_exact` and
    * `medianExact`.
    */
  private def quantileExactElement(x: Expression, level: Expression): Expression = {
    val n = Count(Seq(x)).toAggregateExpression()
    val idx = Cast(Add(Floor(Multiply(Cast(level, DoubleType),
      Cast(n, DoubleType))), Literal(1L)), IntegerType)
    val clamped = Greatest(Seq(Literal(1),
      Least(Seq(idx, Cast(n, IntegerType)))))
    ElementAt(
      SortArray(CollectList(x).toAggregateExpression(), Literal(true)),
      clamped, failOnError = false)
  }

  /** Require a non-null string literal argument (formats, type names —
    * anything consumed at BUILD time), with the function's own name in
    * the error.
    */
  private def literalString(e: Expression, fn: String, what: String): String =
    e match {
      case Literal(s, StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: the $what must be a string literal, got $other")
    }

  /** ClickHouse %-codes → a Java datetime pattern, translated at BUILD
    * time (literal runs quoted, '' escapes). Shared by `formatDateTime`
    * and the `parseDateTime*` family so a format that round-trips
    * through one parses back bit-exactly through the other. Unknown
    * %-codes are a named error — never a silently-wrong pattern.
    */
  private def chPercentToJava(fmt: String, fn: String): String = {
    val java = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(c => c.isLetter || c == '\''))
        java.append('\'').append(s.replace("'", "''")).append('\'')
      else java.append(s)
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val c = fmt.charAt(i + 1)
        val mapped = c match {
          case 'Y' => "yyyy"; case 'y' => "yy"; case 'm' => "MM"
          case 'd' => "dd"; case 'H' => "HH"; case 'i' => "mm"
          case 'M' => "MMMM"
          case 'S' => "ss"; case 'F' => "yyyy-MM-dd"
          case 'T' => "HH:mm:ss"; case 'j' => "DDD"
          case 'a' => "EEE"; case 'b' => "MMM"
          case '%' => null // literal percent
          case other => throw new IllegalArgumentException(
            s"$fn: unsupported code %$other — supported: " +
              "%Y %y %m %d %H %i %S %F %T %j %a %b %M %% " +
              "(%M is the month NAME per ClickHouse >= 23.3; " +
              "%i is minutes)")
        }
        if (mapped == null) lit.append('%') else { flush(); java.append(mapped) }
        i += 2
      } else { lit.append(fmt.charAt(i)); i += 1 }
    }
    flush()
    java.toString
  }

  /** Shared parseDateTime/OrNull builder: the %-format is translated at
    * build time; `failOnError = true` reproduces ClickHouse's throwing
    * base form, `false` the OrNull form.
    */
  private def chParseDateTime(es: Seq[Expression], failOnError: Boolean): Expression = {
    require(es.length == 2,
      "parseDateTime(str, format) - the timezone argument is not supported")
    GetTimestamp(Cast(es.head, StringType),
      Literal(chPercentToJava(literalString(es(1), "parseDateTime", "format"),
        "parseDateTime")),
      TimestampType, "parseDateTimeOrNull", None, failOnError)
  }

  /** parseDateTimeBestEffort's documented-subset kernel over a TRIMMED
    * string: a coalesce of independent try-parses, first match wins.
    * The subset (stated in the registry usage strings — the contract):
    * digits-only strings via the digit lanes (9-10 digits unix SECONDS,
    * 8 compact yyyyMMdd, 14 compact yyyyMMddHHmmss, others a
    * non-parse), ISO 8601 /
    * 'YYYY-MM-DD[ hh:mm:ss[.f]][Z|±hh:mm]' via Spark's own timestamp
    * cast, 'YYYY/MM/DD[ hh:mm:ss]', 'DD.MM.YYYY[ hh:mm:ss]', and
    * 'DD Mon YYYY[ hh:mm:ss]' (English month names). Anything else is a
    * NULL from here — the callers decide between throw/NULL/epoch.
    */
  private def chBestEffortTimestamp(s: Expression): Expression = {
    def tryFmt(p: String): Expression =
      GetTimestamp(s, Literal(p), TimestampType, "parseDateTimeBestEffortOrNull",
        None, false)
    // Digits-only strings take the DIGIT lanes exclusively: 9-10 digits
    // are unix SECONDS, 8 is compact yyyyMMdd, 14 compact
    // yyyyMMddHHmmss, anything else a non-parse — Spark's own timestamp
    // cast would otherwise read '123456' as the year 123456, a guess
    // ClickHouse never makes.
    val digitBranch = CaseWhen(Seq(
      (RLike(s, Literal("^[0-9]{9,10}$")),
        SecondsToTimestamp(TryEval(Cast(s, LongType, None, EvalMode.ANSI)))),
      (RLike(s, Literal("^[0-9]{8}$")), tryFmt("yyyyMMdd")),
      (RLike(s, Literal("^[0-9]{14}$")), tryFmt("yyyyMMddHHmmss"))),
      Literal.create(null, TimestampType))
    If(RLike(s, Literal("^[0-9]+$")), digitBranch,
      Coalesce(Seq(
        TryEval(Cast(s, TimestampType, None, EvalMode.ANSI)),
        tryFmt("yyyy/M/d H:m:s"), tryFmt("yyyy/M/d"),
        tryFmt("d.M.yyyy H:m:s"), tryFmt("d.M.yyyy"),
        tryFmt("d MMM yyyy H:m:s"), tryFmt("d MMM yyyy"))))
  }

  /** mapAdd/mapSubtract kernel: union the key arrays (sorted distinct,
    * the sumMap order), then per union key combine each map's value —
    * a positional lookup via array_position, 0 when absent — with the
    * per-map sign. Fields are read by the layer's map-aggregate NAMES
    * (keys/values); see the registry entries' contract.
    */
  private def chMapArith(maps: Seq[Expression], negate: Seq[Boolean]): Expression = {
    def ks(m: Expression) = UnresolvedExtractValue(m, Literal("keys"))
    def vs(m: Expression) = UnresolvedExtractValue(m, Literal("values"))
    val allKeys = new SortArray(ArrayDistinct(Concat(maps.map(ks))))
    val combined = ArrayTransform(allKeys, lam1 { k =>
      maps.zip(negate).map { case (m, neg) =>
        val pos = ArrayPosition(ks(m), k)
        val v = If(GreaterThan(pos, Literal(0L)),
          ElementAt(vs(m), Cast(pos, IntegerType)), Literal(0))
        if (neg) UnaryMinus(v) else (v: Expression)
      }.reduce(Add(_, _))
    })
    CreateNamedStruct(Seq(
      Literal("keys"), allKeys, Literal("values"), combined))
  }

  /** Epoch seconds of a timestamp/date/string expression — the shared
    * kernel of dateDiff's 'second' unit and timeDiff.
    */
  private def chEpochSeconds(e: Expression): Expression =
    Cast(Cast(e, TimestampType), LongType)

  /** The geohash base32 alphabet (no a/i/l/o). */
  private val GeoB32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** arrayAUC kernel (see the registry entry's scaladoc): the rank
    * formula with tie-averaging. Shared by arrayAUC and the ClickHouse
    * 23.x rename arrayROCAUC.
    */
  private def chArrayAuc(es: Seq[Expression]): Expression = {
        val s = Cast(es.head, ArrayType(DoubleType))
        val l = Cast(es(1), ArrayType(DoubleType))
        val pos = lam1(x => GreaterThan(x, Literal(0.0d)))
        val p = Cast(new Size(ArrayFilter(l, pos)), DoubleType)
        val n = Subtract(Cast(new Size(l), DoubleType), p)
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_ast"))
        val iv = UnresolvedNamedLambdaVariable(Seq("__graft_ai"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_af"))
        val si = ElementAt(s, iv)
        val less = Cast(new Size(ArrayFilter(s,
          lam1(x => LessThan(x, si)))), DoubleType)
        val eq = Cast(new Size(ArrayFilter(s,
          lam1(x => EqualTo(x, si)))), DoubleType)
        val credit = If(GreaterThan(ElementAt(l, iv), Literal(0.0d)),
          Add(less, Multiply(Add(eq, Literal(1.0d)), Literal(0.5d))),
          Literal(0.0d))
        val rankSum = ArrayAggregate(
          new Sequence(Literal(1), new Size(s), Literal(1)),
          Literal(0.0d),
          LambdaFunction(Add(st, credit), Seq(st, iv)),
          LambdaFunction(fin, Seq(fin)))
        If(Or(EqualTo(p, Literal(0.0d)), EqualTo(n, Literal(0.0d))),
          Literal(Double.NaN),
          Divide(Subtract(rankSum,
            Multiply(Multiply(p, Add(p, Literal(1.0d))), Literal(0.5d))),
            Multiply(p, n)))
  }

  /** LTTB kernel over a SORTED array<struct(col1=x, col2=y)>: the
    * reference algorithm's floor grid, sequential bucket fold, and
    * first-max tie rule (see the registry entry's scaladoc). Degenerate
    * inputs take their stated branches: empty → [], n <= 1 → the first
    * point, n = 2 → endpoints, n >= count → all points. The grid is
    * strictly increasing in the fold branch (every >= 1 there), so no
    * Sequence boundary can invert.
    */
  private def chLttb(pts: Expression, nRaw: Expression): Expression = {
    // n outside the documented domain (>= 1) raises — the layer's
    // every-exclusion-is-a-named-error stance, routed through the int
    // so the error branch needs no knowledge of the element type.
    val n = If(LessThanOrEqual(nRaw, Literal(0)),
      Cast(RaiseError(Literal(
        "largestTriangleThreeBuckets: n must be >= 1")), IntegerType),
      nRaw)
    val sz = new Size(pts)
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_tst"))
    val iv = UnresolvedNamedLambdaVariable(Seq("__graft_ti"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_tf"))
    def f(nm: String) = UnresolvedExtractValue(st, Literal(nm))
    // Every point access inside the fold reads the SORTED array from
    // the fold STATE ("p"), populated once in the zero — a bare `pts`
    // reference there would re-evaluate the sort per access (a full
    // TimSort per candidate; measured as the difference between
    // milliseconds and minutes on a 2,000-point group).
    val szIn = new Size(f("p"))
    val every = Divide(Cast(Subtract(szIn, Literal(2)), DoubleType),
      Cast(Subtract(n, Literal(2)), DoubleType))
    def x(e: Expression) = UnresolvedExtractValue(e, Literal("col1"))
    def y(e: Expression) = UnresolvedExtractValue(e, Literal("col2"))
    def at0(i: Expression) = ElementAt(f("p"), Add(i, Literal(1)))
    def gridAt(k: Expression) = Add(Cast(Floor(Multiply(
      Cast(k, DoubleType), every)), IntegerType), Literal(1))
    val rs = gridAt(iv)
    val re = gridAt(Add(iv, Literal(1)))
    val ae = Least(Seq(gridAt(Add(iv, Literal(2))), szIn))
    // Next bucket's average point, one inner fold over [re, ae).
    val s2 = UnresolvedNamedLambdaVariable(Seq("__graft_tas"))
    val j2 = UnresolvedNamedLambdaVariable(Seq("__graft_taj"))
    val f2 = UnresolvedNamedLambdaVariable(Seq("__graft_taf"))
    val sums = ArrayAggregate(
      new Sequence(re, Subtract(ae, Literal(1)), Literal(1)),
      CreateNamedStruct(Seq(Literal("sx"), Literal(0.0d),
        Literal("sy"), Literal(0.0d))),
      LambdaFunction(CreateNamedStruct(Seq(
        Literal("sx"), Add(UnresolvedExtractValue(s2, Literal("sx")), x(at0(j2))),
        Literal("sy"), Add(UnresolvedExtractValue(s2, Literal("sy")), y(at0(j2))))),
        Seq(s2, j2)),
      LambdaFunction(f2, Seq(f2)))
    val cnt = Cast(Subtract(ae, re), DoubleType)
    val avgX = Divide(UnresolvedExtractValue(sums, Literal("sx")), cnt)
    val avgY = Divide(UnresolvedExtractValue(sums, Literal("sy")), cnt)
    val prev = at0(f("a"))
    // Best candidate in [rs, re): max triangle area, first max wins.
    val s3 = UnresolvedNamedLambdaVariable(Seq("__graft_tcs"))
    val j3 = UnresolvedNamedLambdaVariable(Seq("__graft_tcj"))
    val f3 = UnresolvedNamedLambdaVariable(Seq("__graft_tcf"))
    val cand = at0(j3)
    val area = Abs(Subtract(
      Multiply(Subtract(x(prev), avgX), Subtract(y(cand), y(prev))),
      Multiply(Subtract(x(prev), x(cand)), Subtract(avgY, y(prev)))))
    val better = GreaterThan(area, UnresolvedExtractValue(s3, Literal("ba")))
    val pick = ArrayAggregate(
      new Sequence(rs, Subtract(re, Literal(1)), Literal(1)),
      CreateNamedStruct(Seq(Literal("bi"), rs,
        Literal("ba"), Literal(-1.0d))),
      LambdaFunction(CreateNamedStruct(Seq(
        Literal("bi"), If(better, j3, UnresolvedExtractValue(s3, Literal("bi"))),
        Literal("ba"), If(better, area, UnresolvedExtractValue(s3, Literal("ba"))))),
        Seq(s3, j3)),
      LambdaFunction(UnresolvedExtractValue(f3, Literal("bi")), Seq(f3)))
    val step = CreateNamedStruct(Seq(
      Literal("p"), f("p"),
      Literal("a"), pick,
      Literal("acc"), Concat(Seq(f("acc"), CreateArray(Seq(at0(pick)))))))
    val folded = ArrayAggregate(
      new Sequence(Literal(0), Subtract(n, Literal(3)), Literal(1)),
      CreateNamedStruct(Seq(
        Literal("p"), pts,
        Literal("a"), Literal(0),
        Literal("acc"), CreateArray(Seq(ElementAt(pts, Literal(1)))))),
      LambdaFunction(step, Seq(st, iv)),
      LambdaFunction(Concat(Seq(UnresolvedExtractValue(fin, Literal("acc")),
        CreateArray(Seq(ElementAt(UnresolvedExtractValue(fin, Literal("p")),
          new Size(UnresolvedExtractValue(fin, Literal("p"))))))))
        , Seq(fin)))
    CaseWhen(Seq(
      (EqualTo(sz, Literal(0)), Slice(pts, Literal(1), Literal(0))),
      (LessThanOrEqual(n, Literal(1)), Slice(pts, Literal(1), Literal(1))),
      (GreaterThanOrEqual(n, sz), pts),
      (EqualTo(n, Literal(2)),
        Concat(Seq(Slice(pts, Literal(1), Literal(1)),
          CreateArray(Seq(ElementAt(pts, sz))))))), folded)
  }

  /** groupArrayMovingSum/Avg kernel: collect → one cumulative-sum fold
    * → out[i] = cum[i] − cum[i−n] (prefix difference, ClickHouse's own
    * computation), dividing by the window (or, windowless, the total
    * count) for the avg forms. DOUBLE lane throughout.
    */
  private def chMovingArray(x: Expression, win: Option[Expression],
      avg: Boolean): Expression = {
    val xs = CollectList(Cast(x, DoubleType)).toAggregateExpression()
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_mst"))
    val e2 = UnresolvedNamedLambdaVariable(Seq("__graft_me"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_mf"))
    def fld(e: Expression, f: String) = UnresolvedExtractValue(e, Literal(f))
    val nxt = Add(fld(st, "run"), e2)
    val cum = ArrayAggregate(xs,
      CreateNamedStruct(Seq(
        Literal("acc"), Cast(CreateArray(Nil), ArrayType(DoubleType)),
        Literal("run"), Literal(0.0d))),
      LambdaFunction(CreateNamedStruct(Seq(
        Literal("acc"), Concat(Seq(fld(st, "acc"), CreateArray(Seq(nxt)))),
        Literal("run"), nxt)), Seq(st, e2)),
      LambdaFunction(fld(fin, "acc"), Seq(fin)))
    val n = win.map { w =>
      val wi = Cast(w, IntegerType)
      If(LessThan(wi, Literal(1)),
        Cast(RaiseError(Literal(
          "groupArrayMovingSum/Avg: the window must be >= 1")), IntegerType),
        wi)
    }
    val size = new Size(cum)
    val iv = UnresolvedNamedLambdaVariable(Seq("__graft_mi"))
    val prev = n match {
      case Some(nn) => If(GreaterThan(iv, nn),
        ElementAt(cum, Subtract(iv, nn)), Literal(0.0d))
      case None => Literal(0.0d)
    }
    val winSum = Subtract(ElementAt(cum, iv), prev)
    val denom = n match {
      case Some(nn) => Cast(nn, DoubleType)
      case None => Cast(size, DoubleType)
    }
    val item = if (avg) Divide(winSum, denom) else winSum
    // An empty aggregation input yields an empty cum array — return []
    // (ClickHouse's answer) instead of letting Sequence(1, 0) throw its
    // boundary error (the arrayEnumerate guard, mirrored).
    If(EqualTo(size, Literal(0)),
      Cast(CreateArray(Nil), ArrayType(DoubleType)),
      ArrayTransform(new Sequence(Literal(1), size, Literal(1)),
        LambdaFunction(item, Seq(iv))))
  }

  /** Dotted-quad IPv4 with each octet 0-255 (leading zeros accepted,
    * as ClickHouse's reader accepts them). Anchored — partial matches
    * and surrounding whitespace are invalid.
    */
  private val Ipv4Pattern: String = {
    val oct = "(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
    s"^$oct\\.$oct\\.$oct\\.$oct$$"
  }

  /** IPv4 string → UInt32 address number (BIGINT), NULL when invalid.
    * The shared kernel of the IPv4StringToNum* / toIPv4OrNull forms.
    */
  private def ipv4OrNull(e: Expression): Expression = {
    val s = Cast(e, StringType)
    def grp(i: Int) = Cast(RegExpExtract(s, Literal(Ipv4Pattern),
      Literal(i)), LongType)
    If(RLike(s, Literal(Ipv4Pattern)),
      Add(Add(Multiply(grp(1), Literal(16777216L)),
        Multiply(grp(2), Literal(65536L))),
        Add(Multiply(grp(3), Literal(256L)), grp(4))),
      Literal.create(null, LongType))
  }

  /** 1-based BYTE position of `n0` in `h0`, 0 when absent — the bare
    * `position` convention (the needle locates at code points; a valid
    * UTF-8 needle only matches at a code-point boundary, so the first
    * code-point hit IS the first byte hit, and the prefix's octet length
    * converts the offset). Shared by the multiSearch* position family.
    */
  private def chBytePos(h0: Expression, n0: Expression): Expression = {
    val h = Cast(h0, StringType)
    val n = Cast(n0, StringType)
    val loc = new StringLocate(n, h)
    If(LessThanOrEqual(loc, Literal(0)), loc,
      Add(OctetLength(Substring(h, Literal(1), Subtract(loc, Literal(1)))),
        Literal(1)))
  }

  /** Split a string into its characters (one UTF8String scan via the
    * empty-pattern regex split) — the shared kernel of the
    * byteHammingDistance/stringJaccardIndex character sets. Boundary,
    * stated: the regex split works in UTF-16 units, so BMP code points
    * (ASCII, accents, CJK) are one element each but astral-plane
    * characters (emoji) split into surrogate halves — on top of the
    * byte-vs-character boundary the usage strings already declare for
    * non-ASCII input.
    */
  private def chars(e: Expression): Expression = {
    val x = UnresolvedNamedLambdaVariable(Seq("__graft_ch"))
    // limit -1 keeps Java's trailing "" element — filter it out, an
    // empty string is never a character.
    ArrayFilter(StringSplit(Cast(e, StringType), Literal(""), Literal(-1)),
      LambdaFunction(Not(EqualTo(x, Literal(""))), Seq(x)))
  }

  /** The variant at a JsonPath: lenient parse (invalid JSON → NULL, the
    * ClickHouse *OrDefault posture the JSON* family documents), lenient
    * get (absent path → NULL). Shared by JSONHas/JSONExtractRaw/
    * JSONExtractKeys/JSONLength.
    */
  private def chVariantAt(json: Expression, path: Expression): Expression =
    VariantGet(ParseJson(Cast(json, StringType), failOnError = false),
      path, VariantType, failOnError = false, None)

  /** A fresh single-argument lambda (`__graft_x -> body`). Built on
    * [[UnresolvedNamedLambdaVariable]] so the stock
    * `ResolveLambdaVariables` rule binds it exactly like a user-written
    * lambda.
    */
  private def lam1(f: Expression => Expression): LambdaFunction = {
    val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
    LambdaFunction(f(x), Seq(x))
  }

  /** The query string's name=value items as array<string> — the shared
    * kernel of extractURLParameters/extractURLParameterNames: the same
    * parse_url QUERY lane the rest of the URL family rides (''-not-NULL
    * convention), split on '&' with empty items dropped.
    */
  /** The units dateAdd/dateSub accept — Spark's TimestampAdd spellings,
    * which cover ClickHouse's documented list.
    */
  private[plans] val ChAddUnits = Set("microsecond", "millisecond",
    "second", "minute", "hour", "day", "week", "month", "quarter", "year")

  /** The unit argument of dateAdd/dateSub: a STRING LITERAL, validated
    * against [[ChAddUnits]]. The rewrite quotes bare unit keywords
    * before the call reaches resolution (an unresolved child would keep
    * ResolveFunctions from ever invoking this builder), so a literal is
    * the only spelling that can arrive.
    */
  private def chUnitName(fname: String, e: Expression): String = {
    val raw = e match {
      case Literal(s, StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"ClickHouse SQL: $fname's unit must be a bare or quoted unit " +
          s"keyword, got $other")
    }
    if (!ChAddUnits.contains(raw.toLowerCase(java.util.Locale.ROOT)))
      throw new IllegalArgumentException(
        s"ClickHouse SQL: $fname unit '$raw' is not supported — one of " +
          ChAddUnits.toSeq.sorted.mkString("/"))
    raw
  }

  private def chUrlParams(u0: Expression): Expression = {
    val qs = Coalesce(Seq(ParseUrl(Seq(Cast(u0, StringType),
      Literal("QUERY")), failOnError = false), Literal("")))
    ArrayFilter(StringSplit(qs, Literal("&"), Literal(-1)),
      lam1(x => Not(EqualTo(x, Literal("")))))
  }

  /** The 4-gram MULTISET of a string, as array<string> — the shared
    * kernel of the ngramDistance/ngramSearch family (r13, replacing the
    * r12 named errors). ClickHouse DOCUMENTS the algorithm (4-gram
    * multiset symmetric / non-symmetric difference, normalized); its
    * implementation folds grams into 2^16 hashed counters, an internal
    * device whose collisions can perturb its result — this kernel
    * computes the documented definition EXACTLY, the same
    * exact-beats-approx stance as topK/uniqExact.
    *
    * Byte variants gram over the UTF-8 BYTES via the hex render (two
    * hex chars per byte, so a byte 4-gram is an 8-char hex slice at an
    * even offset — ClickHouse's byte windows with no binary-comparison
    * semantics to depend on); UTF8 variants gram over CODE POINTS (Java
    * regex `.` is code-point-wise, so astral-plane characters count
    * once). Both extractions are ONE regex scan
    * (`(?=(gram))advance` — the zero-width lookahead captures each
    * overlapping gram, the consumed chars pace the walk: 1 code point
    * for UTF8 grams, 2 hex chars = 1 byte for byte grams), keeping the
    * whole family codegen-friendly with no per-gram string re-scan.
    * Case-insensitive byte variants lower ASCII A–Z only (ClickHouse's
    * byte tolower, via translate); the UTF8 CI variants use full
    * Unicode lowercasing. Strings shorter than 4 (bytes / code points)
    * have the EMPTY multiset — the boundary the usage strings state.
    * Cost vs document LENGTH: O(len · distinct-grams) from the
    * per-distinct-gram count filters inside the fold — measured
    * near-linear on rep-tagged long documents in `SCALEBENCH.json`'s
    * `ngram_len_x8/x32` rows (a per-gram re-scan would read quadratic
    * there).
    */
  private def chNgramMultiset(s0: Expression, ci: Boolean,
      utf8: Boolean): Expression = {
    val s = Cast(s0, StringType)
    val lowered: Expression =
      if (!ci) s
      else if (utf8) Lower(s)
      else StringTranslate(s,
        Literal("ABCDEFGHIJKLMNOPQRSTUVWXYZ"),
        Literal("abcdefghijklmnopqrstuvwxyz"))
    if (utf8)
      RegExpExtractAll(lowered, Literal("(?s)(?=(.{4}))."), Literal(1))
    else
      RegExpExtractAll(Hex(Cast(lowered, BinaryType)),
        Literal("(?s)(?=(.{8})).."), Literal(1))
  }

  /** Shared ngram multiset fold: accumulates `common` =
    * Σ_g min(cnt_a(g), cnt_b(g)) over the DISTINCT grams of the first
    * array (the support of the min — grams absent from `a` contribute
    * 0, so distinct(a) suffices), then hands (|a|, |b|, common) to
    * `finish`. Both gram arrays are threaded through the fold's ZERO
    * STATE so they are built once per row, not re-built per distinct
    * gram (the LTTB fold-state lesson); per-gram counting filters the
    * state arrays, O(distinct·(|a|+|b|)) on inputs a scalar string
    * bounds. NULL strings propagate to a NULL result.
    */
  private def chNgramFold(ga: Expression, gb: Expression,
      finish: (Expression, Expression, Expression) => Expression): Expression = {
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_ngst"))
    val g = UnresolvedNamedLambdaVariable(Seq("__graft_ngg"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_ngf"))
    def fld(e: Expression, n: String) = UnresolvedExtractValue(e, Literal(n))
    def cnt(arr: Expression) =
      Cast(new Size(ArrayFilter(arr, lam1(x => EqualTo(x, g)))), LongType)
    val step = CreateNamedStruct(Seq(
      Literal("a"), fld(st, "a"),
      Literal("b"), fld(st, "b"),
      Literal("c"), Add(fld(st, "c"),
        Least(Seq(cnt(fld(st, "a")), cnt(fld(st, "b")))))))
    ArrayAggregate(ArrayDistinct(ga),
      CreateNamedStruct(Seq(
        Literal("a"), ga, Literal("b"), gb, Literal("c"), Literal(0L))),
      LambdaFunction(step, Seq(st, g)),
      LambdaFunction(finish(
        Cast(new Size(fld(fin, "a")), LongType),
        Cast(new Size(fld(fin, "b")), LongType),
        fld(fin, "c")), Seq(fin)))
  }

  /** ngramDistance: symmetric difference over total gram count —
    * (|a| + |b| − 2·common) / max(|a| + |b|, 1). Two gram-less strings
    * are distance 0 (identical), a gram-less string vs a grammed one is
    * distance 1 — the stated max(,1) boundary.
    */
  private def chNgramDistanceExpr(hay: Expression, needle: Expression,
      ci: Boolean, utf8: Boolean): Expression =
    chNgramFold(chNgramMultiset(hay, ci, utf8),
      chNgramMultiset(needle, ci, utf8),
      (na, nb, c) => {
        val tot = Add(na, nb)
        Divide(Cast(Subtract(tot, Multiply(c, Literal(2L))), DoubleType),
          Cast(Greatest(Seq(tot, Literal(1L))), DoubleType))
      })

  /** ngramSearch: the needle-anchored similarity — common / max(|needle
    * grams|, 1) (equivalently 1 − non-symmetric difference /
    * |needle grams|, ClickHouse's documented form; closer to 1 = needle
    * more likely contained). A gram-less needle scores 0, stated.
    */
  private def chNgramSearchExpr(hay: Expression, needle: Expression,
      ci: Boolean, utf8: Boolean): Expression =
    chNgramFold(chNgramMultiset(needle, ci, utf8),
      chNgramMultiset(hay, ci, utf8),
      (nn, _, c) => Divide(Cast(c, DoubleType),
        Cast(Greatest(Seq(nn, Literal(1L))), DoubleType)))

  /** exponentialMovingAverage(x)(v, t) — ClickHouse's exponentially
    * smoothed weighted moving average at the LATEST time point:
    *
    *   (1 − 2^(−1/x)) · Σ_i v_i · 2^(−(max(t) − t_i)/x)
    *
    * x = half-life in t's units. The normalizer is the unit-step
    * geometric sum Σ_{k≥0} 2^(−k/x) inverted — the closed form pinned
    * by ClickHouse's own docs' worked example (v≡1, t=1..10, x=1 →
    * 1 − 2^(−n): 0.5, 0.75, 0.875, …). Unlike the deltaSum /
    * groupArrayMovingSum order-dependent family, this sum is
    * ORDER-INDEPENDENT by construction (every point decays to the one
    * anchor max(t)); the fold still runs over the (t, v)-sorted pairs
    * so double summation is bit-stable across partition orders. Pairs
    * with a NULL value or time are skipped; an empty group returns 0.0.
    * Cost class: groupArray + one fold (the moving-aggregate shape).
    */
  private def chEmaExpr(x0: Expression, v0: Expression,
      t0: Expression): Expression = {
    val x = Cast(x0, DoubleType)
    def fld(e: Expression, n: String) = UnresolvedExtractValue(e, Literal(n))
    val pair = CreateNamedStruct(Seq(
      Literal("t"), Cast(t0, DoubleType),
      Literal("v"), Cast(v0, DoubleType)))
    val xs = new SortArray(CollectList(pair).toAggregateExpression(),
      Literal(true))
    // max t over pairs whose value is non-null (a skipped pair must not
    // anchor the decay); ArrayMax ignores nulls.
    val tmax = ArrayMax(ArrayTransform(xs, lam1(e =>
      If(IsNull(fld(e, "v")), Literal.create(null, DoubleType),
        fld(e, "t")))))
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_emst"))
    val e2 = UnresolvedNamedLambdaVariable(Seq("__graft_eme"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_emf"))
    val decayed = Multiply(fld(e2, "v"),
      Pow(Literal(2.0d),
        Divide(Subtract(fld(e2, "t"), fld(st, "tmax")), x)))
    val step = CreateNamedStruct(Seq(
      Literal("tmax"), fld(st, "tmax"),
      Literal("acc"),
      If(Or(IsNull(fld(e2, "t")), IsNull(fld(e2, "v"))),
        fld(st, "acc"), Add(fld(st, "acc"), decayed))))
    val norm = Subtract(Literal(1.0d),
      Pow(Literal(2.0d), Divide(Literal(-1.0d), x)))
    ArrayAggregate(xs,
      CreateNamedStruct(Seq(
        Literal("tmax"), tmax, Literal("acc"), Literal(0.0d))),
      LambdaFunction(step, Seq(st, e2)),
      LambdaFunction(Multiply(fld(fin, "acc"), norm), Seq(fin)))
  }

  /** sparkbar(n[, min_x, max_x])(x, y) — ClickHouse's inline frequency
    * sparkline: y summed into n equal-width x-buckets over
    * [min_x, max_x] (defaulting to the group's min/max x), each bucket
    * rendered as one glyph. The RENDERING CONTRACT is stated here (the
    * r12 named error cited ClickHouse's docs pinning none): bucket
    * index = ⌊(x − min)/(max − min)·n⌋ clamped to n−1 (min = max puts
    * everything in bucket 0; x outside the bounds is dropped), an
    * EMPTY or non-positive bucket renders ' ' (ClickHouse's own doc
    * example shows interior spaces), and a positive bucket renders the
    * 1/8-block glyph at level ⌈sum·8 / max_sum⌉ clamped to [1, 8] —
    * '▁' through '█', the same 1/8 resolution as `bar`. NULL x/y rows
    * are skipped; an empty group renders n spaces. The collected pairs
    * are sorted before summing so double accumulation is bit-stable
    * across partition orders. Cost class: groupArray + one fold with an
    * O(n) bucket-array update per row.
    */
  /** The shared sparkbar arity dispatch — one body behind both the
    * rewrite-target and bare-call registry spellings, so the two can
    * never diverge.
    */
  private def chSparkbarBuilder(usage: String): Seq[Expression] => Expression =
    es => {
      require(es.length == 3 || es.length == 5, usage)
      if (es.length == 3) chSparkbarExpr(es.head, None, None, es(1), es(2))
      else chSparkbarExpr(es.head, Some(es(1)), Some(es(2)), es(3), es(4))
    }

  private def chSparkbarExpr(n0: Expression, mnOpt: Option[Expression],
      mxOpt: Option[Expression], x0: Expression,
      y0: Expression): Expression = {
    val n = Cast(n0, IntegerType)
    def fld(e: Expression, f: String) = UnresolvedExtractValue(e, Literal(f))
    val pair = CreateNamedStruct(Seq(
      Literal("x"), Cast(x0, DoubleType),
      Literal("y"), Cast(y0, DoubleType)))
    val xs = new SortArray(CollectList(pair).toAggregateExpression(),
      Literal(true))
    def xsOf(which: String): Expression =
      ArrayTransform(xs, lam1(e =>
        If(IsNull(fld(e, "y")), Literal.create(null, DoubleType),
          fld(e, which))))
    val mn = mnOpt.map(Cast(_, DoubleType)).getOrElse(ArrayMin(xsOf("x")))
    val mx = mxOpt.map(Cast(_, DoubleType)).getOrElse(ArrayMax(xsOf("x")))
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_sbst"))
    val e2 = UnresolvedNamedLambdaVariable(Seq("__graft_sbe"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_sbf"))
    val exv = fld(e2, "x")
    // Bucket index of this row's x against the state's bounds.
    val idx = If(EqualTo(fld(st, "mn"), fld(st, "mx")), Literal(0L),
      Least(Seq(
        Cast(Floor(Multiply(
          Divide(Subtract(exv, fld(st, "mn")),
            Subtract(fld(st, "mx"), fld(st, "mn")), EvalMode.LEGACY),
          Cast(fld(st, "n"), DoubleType))), LongType),
        Subtract(Cast(fld(st, "n"), LongType), Literal(1L)))))
    val skip = Or(Or(IsNull(exv), IsNull(fld(e2, "y"))),
      Or(IsNull(fld(st, "mn")),
        Or(LessThan(exv, fld(st, "mn")),
          GreaterThan(exv, fld(st, "mx")))))
    val sv = UnresolvedNamedLambdaVariable(Seq("__graft_sbv"))
    val si = UnresolvedNamedLambdaVariable(Seq("__graft_sbi"))
    val bumped = ArrayTransform(fld(st, "sums"), LambdaFunction(
      If(EqualTo(Cast(si, LongType), idx),
        Add(Coalesce(Seq(sv, Literal(0.0d))), fld(e2, "y")), sv),
      Seq(sv, si)))
    val step = CreateNamedStruct(Seq(
      Literal("n"), fld(st, "n"),
      Literal("mn"), fld(st, "mn"),
      Literal("mx"), fld(st, "mx"),
      Literal("sums"), If(skip, fld(st, "sums"), bumped)))
    val gv = UnresolvedNamedLambdaVariable(Seq("__graft_sbg"))
    val gm = UnresolvedNamedLambdaVariable(Seq("__graft_sbm"))
    // The max bucket sum is zipped in as a repeated array so ArrayMax
    // evaluates ONCE per group (as an argument of array_repeat), not
    // once per glyph — the render stays O(n).
    val maxRep = ArrayRepeat(ArrayMax(fld(fin, "sums")),
      new Size(fld(fin, "sums")))
    val glyphs = ZipWith(fld(fin, "sums"), maxRep, LambdaFunction(
      If(Or(IsNull(gv), LessThanOrEqual(gv, Literal(0.0d))), Literal(" "),
        Substring(Literal("▁▂▃▄▅▆▇█"),
          Cast(Greatest(Seq(Literal(1L), Least(Seq(Literal(8L),
            Cast(Ceil(Divide(Multiply(gv, Literal(8.0d)),
              gm, EvalMode.LEGACY)), LongType))))),
            IntegerType),
          Literal(1))), Seq(gv, gm)))
    ArrayAggregate(xs,
      CreateNamedStruct(Seq(
        Literal("n"), n, Literal("mn"), mn, Literal("mx"), mx,
        Literal("sums"), ArrayRepeat(Literal.create(null, DoubleType), n))),
      LambdaFunction(step, Seq(st, e2)),
      LambdaFunction(new ArrayJoin(glyphs, Literal(""), None), Seq(fin)))
  }

  /** quantileExactLow/High — ClickHouse's documented rules: the
    * median_low/median_high special case applies ONLY at level 0.5
    * (Low: sorted index (n-1)/2; High: n/2, 0-based integer division);
    * every OTHER level returns the sorted element at 0-based
    * ⌊level·n⌋ (clamped to n-1) for BOTH variants — the same index
    * quantileExact uses, NOT a (n-1)-scaled interpolation grid. E.g.
    * level 0.25 over 4 elements is index 1 for Low and High alike;
    * only the median distinguishes the two spellings.
    */
  private def quantileExactLowHigh(x: Expression, level: Expression,
      high: Boolean): Expression = {
    val n = Count(Seq(x)).toAggregateExpression()
    val lvl = Cast(level, DoubleType)
    // level 0.5: median_low = (n-1) div 2, median_high = n div 2.
    val medianIdx0 =
      if (high) IntegralDivide(n, Literal(2L))
      else IntegralDivide(Subtract(n, Literal(1L)), Literal(2L))
    val genericIdx0 = Cast(Floor(Multiply(lvl, Cast(n, DoubleType))), LongType)
    val idx0 = If(EqualTo(lvl, Literal(0.5d)),
      Cast(medianIdx0, LongType), genericIdx0)
    val idx = Cast(Add(idx0, Literal(1L)), IntegerType)
    val clamped = Greatest(Seq(Literal(1),
      Least(Seq(idx, Cast(n, IntegerType)))))
    ElementAt(
      SortArray(CollectList(x).toAggregateExpression(), Literal(true)),
      clamped, failOnError = false)
  }

  /** ClickHouse `quantileExactWeighted`'s discrete rule: sort the
    * values, accumulate weights, return the FIRST value whose running
    * weight reaches `level * Σw` (>=, so level 0 is the minimum and
    * level 1 the maximum). Rows with null value/weight or weight <= 0
    * are dropped (a zero weight cannot advance the accumulator, so it
    * can never be the crossing element). Pinned to ClickHouse's
    * DOCUMENTED discrete convention — like the quantileExact element
    * rule — not against a live server; the boundary (>= at exact grid
    * crossings) is stated here so a divergence report has a contract to
    * check against. Exact-memory like any exact quantile (one sorted
    * (value, weight) array per group).
    */
  private def quantileExactWeightedElement(x: Expression, w: Expression,
      level: Expression): Expression = {
    val wl = Cast(w, LongType)
    val pairType = StructType(Seq(
      StructField("v", DoubleType), StructField("w", LongType)))
    val pair = If(And(IsNotNull(x), And(IsNotNull(wl), GreaterThan(wl, Literal(0L)))),
      CreateNamedStruct(Seq(
        Literal("v"), Cast(x, DoubleType), Literal("w"), wl)),
      Literal.create(null, pairType))
    val pairs = new SortArray(CollectList(pair).toAggregateExpression())
    val tot = Sum(If(And(IsNotNull(x), And(IsNotNull(wl), GreaterThan(wl, Literal(0L)))),
      wl, Literal(0L))).toAggregateExpression()
    val threshold = Multiply(Cast(level, DoubleType), Cast(tot, DoubleType))
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_qst"))
    val p = UnresolvedNamedLambdaVariable(Seq("__graft_qp"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_qf"))
    def acc(e: Expression) = UnresolvedExtractValue(e, Literal("acc"))
    def res(e: Expression) = UnresolvedExtractValue(e, Literal("res"))
    def mkSt(a: Expression, r: Expression) =
      CreateNamedStruct(Seq(Literal("acc"), a, Literal("res"), r))
    val acc2 = Add(acc(st), UnresolvedExtractValue(p, Literal("w")))
    val merge = LambdaFunction(
      If(Or(IsNull(p), IsNotNull(res(st))), st,
        mkSt(acc2,
          If(GreaterThanOrEqual(Cast(acc2, DoubleType), threshold),
            UnresolvedExtractValue(p, Literal("v")),
            Literal.create(null, DoubleType)))),
      Seq(st, p))
    val finish = LambdaFunction(res(fin), Seq(fin))
    ArrayAggregate(pairs,
      mkSt(Literal(0L), Literal.create(null, DoubleType)), merge, finish)
  }

  /** JsonPath literal for the ClickHouse JSONExtract* key/index varargs:
    * string keys become `.key` (or `['key']` when not identifier-shaped),
    * integer indices become 0-based `[i]` (ClickHouse's are 1-based;
    * negative tail indexing is a named error — JsonPath has none).
    */
  private def jsonPathLit(fname: String, es: Seq[Expression]): Expression = {
    require(es.length >= 2, s"$fname(json, key_or_index, ...)")
    val ident = java.util.regex.Pattern.compile("[A-Za-z_][A-Za-z0-9_]*")
    val parts = es.tail.map {
      case Literal(s, StringType) if s != null =>
        val k = s.toString
        if (ident.matcher(k).matches()) "." + k else s"['$k']"
      case Literal(i: Int, IntegerType) =>
        if (i < 1) throw new IllegalArgumentException(
          s"$fname: ClickHouse indices are 1-based and positive " +
            "(negative-from-end has no JsonPath form)")
        s"[${i - 1}]"
      case other => throw new IllegalArgumentException(
        s"$fname: keys/indices must be string or integer literals, got $other")
    }
    Literal("$" + parts.mkString)
  }

  /** The shared minMap/maxMap kernel: collect non-null-key (k, v) pairs,
    * sort the distinct keys, reduce each key's values with `red`. Cost:
    * the group's pairs buffer once (the groupArray class) and the
    * finisher is O(distinct-keys × pairs) per group — fine for the
    * small metric-map columns minMap/maxMap target; for high-cardinality
    * keys use a two-level GROUP BY (key into the grouping) instead,
    * the same escape hatch as topK's.
    */
  private def chMapAgg(k: Expression, v: Expression,
      red: Expression => Expression): Expression = {
    val pair = CreateNamedStruct(Seq(Literal("k"), k, Literal("v"), v))
    val pairs = new Flatten(CollectList(
      ArrayFilter(CreateArray(Seq(pair)), lam1(p =>
        IsNotNull(UnresolvedExtractValue(p, Literal("k"))))))
      .toAggregateExpression())
    val keys = new SortArray(ArrayDistinct(ArrayTransform(pairs,
      lam1(p => UnresolvedExtractValue(p, Literal("k"))))))
    val p2 = UnresolvedNamedLambdaVariable(Seq("__graft_p"))
    val vals = ArrayTransform(keys, lam1(key =>
      red(ArrayTransform(
        ArrayFilter(pairs, LambdaFunction(
          EqualTo(UnresolvedExtractValue(p2, Literal("k")), key), Seq(p2))),
        lam1(p => UnresolvedExtractValue(p, Literal("v")))))))
    CreateNamedStruct(Seq(Literal("keys"), keys, Literal("values"), vals))
  }

  /** Shared sequenceMatch/sequenceCount fold (see the registry entries'
    * scaladoc for the semantics). `counting = false` returns the boolean
    * level-k-achievable; `counting = true` wraps the level state in a
    * (count, levels) struct, increments on each completion, and RESETS
    * the levels (non-overlap restart).
    */
  private def seqKernel(fname: String, es: Seq[Expression],
      counting: Boolean): Expression = {
    val k = es.lift(1) match {
      case Some(Literal(kk: Int, IntegerType)) if kk >= 1 => kk
      case other => throw new IllegalArgumentException(
        s"$fname: k must be a positive integer literal, got $other")
    }
    require(es.length == 2 + 2 * (k - 1) + k,
      s"$fname: expected ${2 + 2 * (k - 1) + k} args for k=$k, got ${es.length}")
    val t = Cast(es.head, LongType)
    val gapSpecs = (2 until k + 1).map { j =>
      val op = es(2 + 2 * (j - 2)) match {
        case Literal(o: Int, IntegerType) if o >= 0 && o <= 4 => o
        case other => throw new IllegalArgumentException(
          s"$fname: op codes must be integer literals 0-4, got $other")
      }
      (op, es(2 + 2 * (j - 2) + 1))
    }
    // COUNTING is exact only for unconstrained gaps: there the fold's
    // earliest-completion greedy IS ClickHouse's lazy left-to-right
    // scan (each step takes the first qualifying event; restart after
    // the match). With a (?t op n) constraint ClickHouse's scan commits
    // to the backtracking-order chain, whose END need not be the
    // earliest achievable one — the restart point (and so the count)
    // then depends on an internal matcher order ClickHouse does not
    // document as a contract. Refusing beats silently diverging.
    if (counting && gapSpecs.exists(_._1 != 0))
      throw new IllegalArgumentException(
        s"$fname: sequenceCount with a (?t op n) time constraint is not " +
          "supported — ClickHouse's count depends on its matcher's " +
          "internal backtracking order (which chain it commits to fixes " +
          "where the next search restarts), not a documented semantic; " +
          "use an unconstrained pattern, or windowFunnel for bounded-" +
          "window step counting, or sequenceMatch for constrained " +
          "existence (which IS exact here)")
    val conds = es.drop(2 + 2 * (k - 1))
      .map(c => Coalesce(Seq(c, Literal(false))))
    val entryType = StructType(Seq(
      StructField("t", LongType), StructField("m", IntegerType)))
    val mask = conds.zipWithIndex.map { case (c, j) =>
      If(c, Literal(1 << j), Literal(0)): Expression
    }.reduce(Add(_, _))
    val entry = If(And(GreaterThan(mask, Literal(0)), IsNotNull(t)),
      CreateNamedStruct(Seq(Literal("t"), t, Literal("m"), mask)),
      Literal.create(null, entryType))
    val entries = new SortArray(CollectList(entry).toAggregateExpression())
    val lvType = StructType(Seq(
      StructField("mn", LongType), StructField("mx", LongType)))
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_st"))
    val en = UnresolvedNamedLambdaVariable(Seq("__graft_en"))
    val enT = UnresolvedExtractValue(en, Literal("t"))
    val enM = UnresolvedExtractValue(en, Literal("m"))
    val lv: Expression =
      if (counting) UnresolvedExtractValue(st, Literal("lv")) else st
    val cnt = UnresolvedExtractValue(st, Literal("c"))
    def lvAt(idx0: Int) = GetArrayItem(lv, Literal(idx0))
    def mnOf(e: Expression) = UnresolvedExtractValue(e, Literal("mn"))
    def mxOf(e: Expression) = UnresolvedExtractValue(e, Literal("mx"))
    def bit(j: Int) = EqualTo(
      BitwiseAnd(enM, Literal(1 << (j - 1))), Literal(1 << (j - 1)))
    def gate(j: Int): Expression =
      if (j == 1) bit(j)
      else {
        val prev = lvAt(j - 2)
        val timeOk: Expression = gapSpecs(j - 2) match {
          case (0, _) => Literal(true)
          case (1, n) => LessThanOrEqual(Subtract(enT, mxOf(prev)), n)
          case (2, n) => LessThan(Subtract(enT, mxOf(prev)), n)
          case (3, n) => GreaterThanOrEqual(Subtract(enT, mnOf(prev)), n)
          case (4, n) => GreaterThan(Subtract(enT, mnOf(prev)), n)
        }
        And(bit(j), And(IsNotNull(prev), timeOk))
      }
    val newLv = CreateArray((1 to k).map { j =>
      val old = lvAt(j - 1)
      If(gate(j),
        CreateNamedStruct(Seq(
          Literal("mn"), Least(Seq(mnOf(old), enT)),
          Literal("mx"), Greatest(Seq(mxOf(old), enT)))),
        old)
    })
    val emptyLv = CreateArray(Seq.fill(k)(Literal.create(null, lvType)))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fsm"))
    if (!counting) {
      val merge = LambdaFunction(newLv, Seq(st, en))
      val finish = LambdaFunction(
        IsNotNull(GetArrayItem(fin, Literal(k - 1))), Seq(fin))
      ArrayAggregate(entries, emptyLv, merge, finish)
    } else {
      def mkSt(c: Expression, l: Expression) =
        CreateNamedStruct(Seq(Literal("c"), c, Literal("lv"), l))
      val merge = LambdaFunction(
        If(gate(k), mkSt(Add(cnt, Literal(1)), emptyLv), mkSt(cnt, newLv)),
        Seq(st, en))
      val finish = LambdaFunction(
        UnresolvedExtractValue(fin, Literal("c")), Seq(fin))
      ArrayAggregate(entries, mkSt(Literal(0), emptyLv), merge, finish)
    }
  }

  /** The ClickHouse array HOFs put the lambda FIRST (`arrayMap(x -> …,
    * arr)`); Spark's stock HOF expressions take it last. The mapping is a
    * pure argument swap — Spark's parser already accepts `x -> expr` in
    * any function-argument position, so the builder receives a
    * [[LambdaFunction]] and hands it to the stock expression.
    */
  private def chHof(name: String)(
      f: (Expression, LambdaFunction) => Expression): Seq[Expression] => Expression = { es =>
    require(es.length == 2, s"$name(func, arr)")
    es.head match {
      case l: LambdaFunction => f(es(1), l)
      case _ => throw new IllegalArgumentException(
        s"$name: the first argument must be a lambda (ClickHouse argument " +
          s"order), e.g. $name(x -> x + 1, arr)")
    }
  }

  /** ClickHouse's hash family is algorithm-incompatible with Spark's:
    * cityHash64/sipHash64/farmHash64 have no Spark implementation at
    * all, and even the shared-name xxHash64 differs (Spark seeds with
    * 42, ClickHouse with 0). A mapping would silently produce DIFFERENT
    * hash values — breaking sharding, sampling (`xxHash64(id) % 10`),
    * and hash-keyed dedup ported from ClickHouse — so every member is a
    * named error pointing at the safe migration (recompute with Spark's
    * own hash on every side).
    */
  private def chHashError(name: String): (String, String, Seq[Expression] => Expression) =
    (name, s"$name - NOT SUPPORTED: ClickHouse-specific hash algorithm",
      _ => throw hashError(name))

  /** The hash family's named error; `xxHash64` raises it from the rewrite. */
  private[plans] def hashError(name: String): IllegalArgumentException =
    new IllegalArgumentException(
      s"ClickHouse SQL: $name cannot be mapped — ClickHouse and Spark " +
        "implement different hash algorithms/seeds (Spark's xxhash64 " +
        "seeds with 42 where ClickHouse's xxHash64 seeds with 0), so any " +
        "mapping would silently produce different hash values and break " +
        "sharding/sampling/dedup logic ported from ClickHouse; recompute " +
        "the hashes with Spark's xxhash64/hash consistently on every side")

  /** Typed empty-array constructor (`emptyArrayInt64()` …) — the UInt
    * widths widen onto the same signed carriers as the to* casts
    * (UInt32 → BIGINT, UInt64 → DECIMAL(20,0)).
    */
  private def chEmptyArray(fname: String, dt: DataType): (String, String, Seq[Expression] => Expression) =
    (fname, s"$fname() - empty ARRAY<${dt.simpleString}>",
      es => { require(es.isEmpty, s"$fname()")
        Cast(CreateArray(Nil), ArrayType(dt)) })

  /** One-argument interval constructor (`toIntervalDay(n)` …). */
  private def chInterval(fname: String,
      f: Expression => Expression): (String, String, Seq[Expression] => Expression) =
    (fname, s"$fname(n) - the n-unit interval (stock make-interval; day-time for sub-month units, year-month for month/quarter/year)",
      es => { require(es.length == 1, s"$fname(n)"); f(es.head) })

  /** Named error for ClickHouse's block-local function family — their
    * values depend on internal block boundaries by documented design,
    * so no Spark mapping could be faithful; the error carries the
    * window-function spelling a migration should use instead.
    */
  private def chBlockError(name: String, window: String): (String, String, Seq[Expression] => Expression) =
    (name, s"$name - NOT SUPPORTED: ClickHouse block-local function; use $window",
      _ => throw new IllegalArgumentException(
        s"ClickHouse SQL: $name computes within ClickHouse's internal " +
          "data blocks — its value depends on block boundaries " +
          "(ClickHouse's own docs call the behavior incidental and point " +
          s"at window functions) — spell it as: $window"))

  /** dict* stub for extension sessions — the real mapping is a TEXT
    * rewrite onto a scalar-subquery lookup ([[ClickHouseSqlRewrite]]'s
    * dictGet section), which only `graft.plans.ClickHouseSql.sql` runs
    * unconditionally; a function builder cannot emit a subquery. The
    * stub's job is replacing Spark's generic undefined-function error
    * with the migration pointer.
    */
  private def chDictError(name: String): (String, String, Seq[Expression] => Expression) =
    (name, s"$name - dictionary lookup; only mapped through graft.plans.ClickHouseSql.sql",
      _ => throw new IllegalArgumentException(
        s"ClickHouse SQL: $name maps onto a scalar-subquery lookup " +
          "against a registered view of the dictionary (FIRST column = " +
          "key), which needs the text-rewrite path: register the " +
          "dictionary data with createOrReplaceTempView and run the " +
          "statement through graft.plans.ClickHouseSql.sql — or spell " +
          "the lookup as an explicit LEFT JOIN / scalar subquery"))

  /** One-argument URL accessors over Spark's parse_url, with ClickHouse's
    * empty-string-not-NULL convention for absent parts. Divergence
    * (documented in each usage): parse_url needs a WELL-FORMED absolute
    * URL — ClickHouse's parser also accepts scheme-less `host/path`
    * forms, which return '' here.
    */
  private def chUrl(fname: String, part: String, what: String): (String, String, Seq[Expression] => Expression) =
    (fname, s"$fname(url) - $what, '' when absent or unparseable (the URL must carry a scheme; ClickHouse also parses scheme-less forms)",
      es => { require(es.length == 1, s"$fname(url)")
        Coalesce(Seq(ParseUrl(Seq(Cast(es.head, StringType), Literal(part)),
          failOnError = false), Literal(""))) })

  /** addDays/subtractHours/…: ClickHouse's date arithmetic family on
    * the same [[ChDateAdd]] node as the unit-first dateAdd/dateSub
    * spellings (r13 — before that this family returned TIMESTAMP
    * uniformly with a documented wrap-in-toDate divergence; one layer
    * must not type the same ClickHouse operation two ways): a DATE
    * input with day-or-coarser units stays DATE, otherwise TIMESTAMP.
    */
  private def chAddUnit(fname: String, unit: String, neg: Boolean): (String, String, Seq[Expression] => Expression) = {
    val dir = if (neg) "minus" else "plus"
    (fname, s"$fname(x, n) - x $dir n ${unit.toLowerCase}s (a DATE input with day-or-coarser units stays DATE, ClickHouse's typing; otherwise TIMESTAMP)",
      es => { require(es.length == 2, s"$fname(x, n)")
        val n = if (neg) UnaryMinus(es(1)) else es(1)
        ChDateAdd(unit, n, es.head) })
  }

  /** toRelativeDayNum/HourNum/…: whole units elapsed since the epoch,
    * floor-divided (Pmod keeps pre-1970 buckets right, the
    * toStartOfInterval discipline). Session timezone is UTC in this
    * engine, matching ClickHouse's UTC epoch anchoring.
    */
  private def chRelativeNum(fname: String, unitMicros: Long, what: String): (String, String, Seq[Expression] => Expression) =
    (fname, s"$fname(x) - whole $what since 1970-01-01 (UTC), as BIGINT",
      es => { require(es.length == 1, s"$fname(x)")
        val us = UnixMicros(Cast(es.head, TimestampType))
        val d = Literal(unitMicros)
        IntegralDivide(Subtract(us, Pmod(us, d)), d) })

  /** arrayFirst/arrayLast as ONE ArrayAggregate fold. Spark's analyzer
    * requires a function invoked with a lambda argument to resolve to a
    * HigherOrderFunction at the TOP of the built expression (a
    * composition like element_at(filter(arr, λ), 1) is rejected with
    * NON_HIGHER_ORDER_FUNCTION), so the user's lambda BODY is inlined
    * into the fold's merge, binding the user's own lambda variable as
    * the merge's element argument — name-based lambda resolution makes
    * the splice exact. The zero is a safely-typed NULL of the element
    * type (element_at far out of bounds with failOnError=false — the
    * ANSI-safe typed-null idiom).
    */
  private def chSearchFold(name: String, keepFirst: Boolean): Seq[Expression] => Expression = { es =>
    require(es.length == 2, s"$name(func, arr)")
    val l = es.head match {
      case lf: LambdaFunction => lf
      case _ => throw new IllegalArgumentException(
        s"$name: the first argument must be a lambda (ClickHouse argument " +
          s"order), e.g. $name(x -> x > 0, arr)")
    }
    require(l.arguments.length == 1, s"$name: the lambda takes one variable")
    val arr = es(1)
    val x = l.arguments.head
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_st"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
    val cond = Coalesce(Seq(l.function, Literal(false)))
    val upd = if (keepFirst) If(And(IsNull(st), cond), x, st)
      else If(cond, x, st)
    ArrayAggregate(arr,
      ElementAt(arr, Literal(Int.MaxValue), failOnError = false),
      LambdaFunction(upd, Seq(st, x)),
      LambdaFunction(fin, Seq(fin)))
  }

  /** arrayFirstIndex/arrayLastIndex — the same inlined-lambda fold over
    * a (found, position) counter struct; 0 when no element matches
    * (ClickHouse's convention).
    */
  private def chIndexFold(name: String, keepFirst: Boolean): Seq[Expression] => Expression = { es =>
    require(es.length == 2, s"$name(func, arr)")
    val l = es.head match {
      case lf: LambdaFunction => lf
      case _ => throw new IllegalArgumentException(
        s"$name: the first argument must be a lambda (ClickHouse argument " +
          s"order), e.g. $name(x -> x > 0, arr)")
    }
    require(l.arguments.length == 1, s"$name: the lambda takes one variable")
    val arr = es(1)
    val x = l.arguments.head
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_st"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
    def f(e: Expression) = UnresolvedExtractValue(e, Literal("f"))
    def i(e: Expression) = UnresolvedExtractValue(e, Literal("i"))
    def mkSt(ff: Expression, ii: Expression) =
      CreateNamedStruct(Seq(Literal("f"), ff, Literal("i"), ii))
    val cond = Coalesce(Seq(l.function, Literal(false)))
    val i2 = Add(i(st), Literal(1L))
    val f2 =
      if (keepFirst) If(And(EqualTo(f(st), Literal(0L)), cond), i2, f(st))
      else If(cond, i2, f(st))
    ArrayAggregate(arr, mkSt(Literal(0L), Literal(0L)),
      LambdaFunction(mkSt(f2, i2), Seq(st, x)),
      LambdaFunction(f(fin), Seq(fin)))
  }

  /** toStartOfFiveMinutes/TenMinutes/FifteenMinutes — the fixed-width
    * sub-hour buckets, floor-divided over epoch micros (Pmod keeps
    * pre-1970 buckets right, the toStartOfInterval discipline).
    */
  private def chStartOfN(fname: String, micros: Long, what: String): (String, String, Seq[Expression] => Expression) =
    (fname, s"$fname(ts) - floor to the $what bucket, as TIMESTAMP",
      one { e =>
        val us = UnixMicros(Cast(e, TimestampType))
        val d = Literal(micros)
        MicrosToTimestamp(Multiply(
          IntegralDivide(Subtract(us, Pmod(us, d)), d), d))
      })

  /** arrayRotateLeft/Right — modular rotation via two slices. Pmod
    * normalizes a negative or oversized shift; the empty-array guard
    * runs FIRST (If short-circuits, so Pmod never sees a zero modulus
    * under ANSI).
    */
  private def chRotate(arr: Expression, n: Expression): Expression = {
    val sz = new Size(arr)
    val k = Pmod(Cast(n, IntegerType), sz)
    val rotated = Concat(Seq(
      Slice(arr, Add(k, Literal(1)), Subtract(sz, k)),
      Slice(arr, Literal(1), k)))
    If(LessThanOrEqual(sz, Literal(0)), arr, rotated)
  }

  /** toDecimal32/64/128 — ClickHouse's fixed-precision conversions; the
    * scale must be an integer literal (it becomes the Spark DecimalType
    * at build time).
    */
  private def chDecimal(precision: Int): Seq[Expression] => Expression = { es =>
    es match {
      case Seq(x, Literal(s: Int, IntegerType)) if s >= 0 && s <= precision =>
        Cast(x, DecimalType(precision, s))
      case _ => throw new IllegalArgumentException(
        s"toDecimal$precision(x, scale) - scale must be an integer literal " +
          s"in [0, $precision]")
    }
  }

  /** The shared vector-distance fold: zip the two arrays, scan once
    * accumulating a DOUBLE. Elements cast to double up front — exactly
    * the dot-product shape the engine's ANN kernels use.
    */
  private def vecFold(a: Expression, b: Expression,
      merge: (Expression, Expression, Expression) => Expression): Expression = {
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_vst"))
    val p = UnresolvedNamedLambdaVariable(Seq("__graft_vp"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_vfin"))
    // Casting the arrays to array<double> up front also makes the zip
    // children UNNAMED, so ArraysZip falls back to indexed field names
    // (an attribute child would name its field after the column).
    val zipped = ArraysZip(Seq(
      Cast(a, ArrayType(DoubleType)), Cast(b, ArrayType(DoubleType))))
    val x = UnresolvedExtractValue(p, Literal("0"))
    val y = UnresolvedExtractValue(p, Literal("1"))
    ArrayAggregate(zipped, Literal(0.0d),
      LambdaFunction(merge(st, x, y), Seq(st, p)),
      LambdaFunction(fin, Seq(fin)))
  }

  /** One ArrayAggregate scan with an identity finish — the shared shape
    * of arraySum/arrayAvg/arrayProduct.
    */
  private def arrayFold(arr: Expression, zero: Expression,
      merge: (Expression, Expression) => Expression): Expression = {
    val st = UnresolvedNamedLambdaVariable(Seq("__graft_st"))
    val e2 = UnresolvedNamedLambdaVariable(Seq("__graft_e"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
    ArrayAggregate(arr, zero,
      LambdaFunction(merge(st, e2), Seq(st, e2)),
      LambdaFunction(fin, Seq(fin)))
  }

  /** (name, usage, builder) — names are registered case-insensitively. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] =
    baseBuilders ++ convFamily

  private def baseBuilders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("uniqExact", "uniqExact(x...) - exact distinct count",
      es => { require(es.nonEmpty, "uniqExact(x...)")
        Count(es).toAggregateExpression(isDistinct = true) }),
    ("uniq", "uniq(x...) - approximate distinct count (HyperLogLog++)",
      es => { require(es.nonEmpty, "uniq(x...)")
        HyperLogLogPlusPlus(if (es.length == 1) es.head else CreateStruct(es)) }),
    // uniqCombined/uniqHLL12 are ClickHouse's other HLL flavors — the
    // same approx-for-approx pairing as uniq (different sketch params,
    // same contract: an estimate).
    ("uniqCombined", "uniqCombined(x...) - approximate distinct count (HyperLogLog++)",
      es => { require(es.nonEmpty, "uniqCombined(x...)")
        HyperLogLogPlusPlus(if (es.length == 1) es.head else CreateStruct(es)) }),
    ("uniqHLL12", "uniqHLL12(x...) - approximate distinct count (HyperLogLog++)",
      es => { require(es.nonEmpty, "uniqHLL12(x...)")
        HyperLogLogPlusPlus(if (es.length == 1) es.head else CreateStruct(es)) }),
    ("uniqCombined64", "uniqCombined64(x...) - approximate distinct count (HyperLogLog++)",
      es => { require(es.nonEmpty, "uniqCombined64(x...)")
        HyperLogLogPlusPlus(if (es.length == 1) es.head else CreateStruct(es)) }),
    ("uniqTheta", "uniqTheta(x...) - approximate distinct count (HyperLogLog++ standing in for the theta sketch: approx-for-approx)",
      es => { require(es.nonEmpty, "uniqTheta(x...)")
        HyperLogLogPlusPlus(if (es.length == 1) es.head else CreateStruct(es)) }),
    // Stated tie contract (r15): ClickHouse documents argMax/argMin as
    // NON-deterministic when several rows share the extremal key; this
    // engine totalizes the order by composing the VALUE into the key —
    // argMax returns the greatest a among max-b rows, argMin the least a
    // among min-b rows — so the result is deterministic on any data (the
    // sf0.001 fixture carries duplicate (orderkey, linenumber) lines that
    // made the raw MaxBy diverge from the oracle's arg_max tie-pick).
    // The struct composition requires `a` to be ORDERABLE; a Map-typed a
    // (legal in ClickHouse and in the raw MaxBy) would fail analysis, so
    // the totalized contract applies only where it is expressible and the
    // raw (documented-undefined) pick survives as the fallback.
    ("argMax", "argMax(a, b) - value of a at the row with the maximum b; ties on b resolve to the greatest a where a is orderable (stated contract - ClickHouse leaves tied picks undefined)",
      es => { require(es.length == 2, "argMax(a, b)")
        if (es(0).resolved && !RowOrdering.isOrderable(es(0).dataType)) MaxBy(es(0), es(1))
        else MaxBy(es(0), CreateStruct(Seq(es(1), es(0)))) }),
    ("argMin", "argMin(a, b) - value of a at the row with the minimum b; ties on b resolve to the least a where a is orderable (stated contract - ClickHouse leaves tied picks undefined)",
      es => { require(es.length == 2, "argMin(a, b)")
        if (es(0).resolved && !RowOrdering.isOrderable(es(0).dataType)) MinBy(es(0), es(1))
        else MinBy(es(0), CreateStruct(Seq(es(1), es(0)))) }),
    ("countIf", "countIf(cond) - number of rows where cond is true",
      es => { require(es.length == 1, "countIf(cond)")
        Count(Seq(If(es.head, Literal(1), Literal.create(null, IntegerType)))) }),
    ("sumIf", "sumIf(x, cond) - sum of x over rows where cond is true; 0 when none",
      es => { require(es.length == 2, "sumIf(x, cond)")
        Coalesce(Seq(
          Sum(If(es(1), es(0), Literal.create(null, NullType))).toAggregateExpression(),
          Literal(0L))) }),
    ("avgIf", "avgIf(x, cond) - average of x over rows where cond is true; NULL when none",
      es => { require(es.length == 2, "avgIf(x, cond)")
        Average(If(es(1), es(0), Literal.create(null, NullType))) }),
    ("minIf", "minIf(x, cond) - minimum of x over rows where cond is true; NULL when none",
      es => { require(es.length == 2, "minIf(x, cond)")
        Min(If(es(1), es(0), Literal.create(null, NullType))) }),
    ("maxIf", "maxIf(x, cond) - maximum of x over rows where cond is true; NULL when none",
      es => { require(es.length == 2, "maxIf(x, cond)")
        Max(If(es(1), es(0), Literal.create(null, NullType))) }),
    ("groupBitAnd", "groupBitAnd(x) - bitwise AND across rows",
      es => { require(es.length == 1, "groupBitAnd(x)"); BitAndAgg(es.head) }),
    ("groupBitOr", "groupBitOr(x) - bitwise OR across rows",
      es => { require(es.length == 1, "groupBitOr(x)"); BitOrAgg(es.head) }),
    ("groupBitXor", "groupBitXor(x) - bitwise XOR across rows",
      es => { require(es.length == 1, "groupBitXor(x)"); BitXorAgg(es.head) }),
    ("multiIf", "multiIf(c1, v1, ..., else) - first value whose condition is true",
      es => { require(es.length >= 3 && es.length % 2 == 1,
          "multiIf needs cond/value pairs plus an else")
        CaseWhen(es.dropRight(1).grouped(2).map(p => (p(0), p(1))).toSeq,
          Some(es.last)) }),
    ("has", "has(arr, x) - true when array arr contains x",
      es => { require(es.length == 2, "has(arr, x)"); ArrayContains(es(0), es(1)) }),
    ("arrayJoin", "arrayJoin(arr) - expand the array to one row per element (ClickHouse's row-expansion primitive; Spark's explode)",
      es => { require(es.length == 1, "arrayJoin(arr)"); Explode(es.head) }),
    ("splitByChar", "splitByChar(sep, s) - split s on the literal one-character separator",
      es => { require(es.length == 2, "splitByChar(sep, s)")
        require(es(0).foldable && es(0).dataType == StringType,
          "splitByChar separator must be a string literal")
        val sep = Option(es(0).eval()).map(_.toString).getOrElse(
          throw new IllegalArgumentException("splitByChar separator must not be null"))
        require(sep.length == 1, s"splitByChar separator must be one character, got '$sep'")
        StringSplit(es(1), Literal(java.util.regex.Pattern.quote(sep)), Literal(-1)) }),
    // Behavioral-analytics aggregates. ClickHouse's `any(x)`
    // (pick-some-value) is deliberately NOT mapped: Spark's built-in
    // `any` is bool_or and the no-clobber rule keeps it — use `any_value`
    // or `anyLast`. `groupArray(n)(x)` (first-n, read order) is also
    // absent: its pick is nondeterministic, so the parameterized form
    // stays a named parse error rather than a silent arbitrary choice.
    ("retention", "retention(c1, ..., cn) - array of 0/1: r[1] = c1 met on some row; r[i] = c1 and c_i each met on some row",
      es => { require(es.nonEmpty, "retention(cond1, ...)")
        val evers = es.map(c => BoolOr(c).toAggregateExpression())
        val entered = evers.head
        CreateArray(
          If(entered, Literal(1), Literal(0)) +:
            evers.tail.map(e => If(And(entered, e), Literal(1), Literal(0)))) }),
    ("groupArray", "groupArray(x) - all values as an array (collection order is execution order, as in ClickHouse)",
      es => { require(es.length == 1, "groupArray(x)"); CollectList(es.head) }),
    ("groupUniqArray", "groupUniqArray(x) - distinct values as an array (unordered, as in ClickHouse)",
      es => { require(es.length == 1, "groupUniqArray(x)"); CollectSet(es.head) }),
    ("anyLast", "anyLast(x) - the last non-null value seen (order-dependent, as in ClickHouse)",
      es => { require(es.length == 1, "anyLast(x)"); Last(es.head, ignoreNulls = true) }),
    // Array higher-order functions — ClickHouse argument order (lambda
    // first), mapped by [[chHof]] onto the stock codegen'd/eval'd HOF
    // expressions. `arraySum` is deliberately absent: Catalyst's
    // `aggregate` needs a typed zero literal, so a generic mapping would
    // force one result-type convention over int/float inputs — spell the
    // fold with `aggregate(arr, CAST(0 AS …), (acc, x) -> acc + x)`.
    // Scalar / null / plain-array helpers, each a 1:1 stock-expression
    // rename. `empty`/`notEmpty` are the ARRAY/MAP forms (`size` rejects
    // strings loudly at analysis — use length(s) = 0 for strings);
    // `indexOf` returns ClickHouse's 0-for-missing convention, which
    // Spark's array_position shares; the *UTF8 names land on Spark's
    // code-point string expressions (UTF8String counts code points, the
    // ClickHouse convention). Bare `position(haystack, needle)` — whose
    // Spark namesake takes the ARGUMENTS REVERSED, so an unmapped call
    // would RUN and be silently wrong — is renamed TEXTUALLY by
    // [[ClickHouseSqlRewrite]] onto `graft_ch_position` below (the
    // standard `position(needle IN haystack)` spelling, identical in
    // both dialects, passes through). `ifNull`/`nullIf`/`coalesce` need
    // no mapping (stock names, same semantics).
    // dateDiff / formatDateTime — the two remaining date workhorses.
    // ClickHouse's dateDiff counts unit-BOUNDARY crossings (truncate
    // both sides to the unit, then diff — Jan 31 → Feb 1 is 1 month),
    // NOT Spark timestampdiff's complete-period count, so each unit
    // builds its truncation explicitly; `week` is a named error (the
    // engines disagree on the week start, same stance as the absent
    // toStartOfWeek). formatDateTime translates ClickHouse's %-codes to
    // a Java pattern at BUILD time (literal runs quoted, '' escapes),
    // with unknown %-codes a named error — never a silently-wrong
    // format.
    // Registered under a graft_ name: `dateDiff` is a PARSER keyword in
    // Spark (the grammar routes it to timestampdiff and rejects a quoted
    // unit before any registry lookup), so [[ClickHouseSqlRewrite]]
    // renames ClickHouse's string-literal-unit calls textually.
    ("graft_ch_datediff", "graft_ch_datediff('unit', start, end) - ClickHouse dateDiff: end minus start in unit-boundary crossings (second/minute/hour/day/month/quarter/year, the truncate-then-diff semantics)",
      es => {
        require(es.length == 3,
          "dateDiff('unit', start, end) - the timezone argument is not " +
            "supported")
        val unit = es.head match {
          case Literal(u, StringType) if u != null => u.toString.toLowerCase
          case other => throw new IllegalArgumentException(
            s"dateDiff: the unit must be a string literal, got $other")
        }
        val (a, b) = (es(1), es(2))
        def secs(e: Expression) = chEpochSeconds(e)
        // floorDiv (not truncation) so pre-epoch timestamps bucket the
        // same way ClickHouse's toRelative*Num does.
        def floorDiv(x: Expression, d: Long) =
          IntegralDivide(Subtract(x, Pmod(x, Literal(d))), Literal(d))
        def ym(e: Expression) = Add(Multiply(Year(e), Literal(12)), Month(e))
        def yq(e: Expression) = Add(Multiply(Year(e), Literal(4)), Quarter(e))
        unit match {
          case "second" => Subtract(secs(b), secs(a))
          case "minute" => Subtract(floorDiv(secs(b), 60L), floorDiv(secs(a), 60L))
          case "hour" => Subtract(floorDiv(secs(b), 3600L), floorDiv(secs(a), 3600L))
          case "day" => DateDiff(Cast(b, DateType), Cast(a, DateType))
          case "month" => Subtract(ym(b), ym(a))
          case "quarter" => Subtract(yq(b), yq(a))
          case "year" => Subtract(Year(b), Year(a))
          case "week" => throw new IllegalArgumentException(
            "dateDiff('week', ...) is not supported — ClickHouse weeks " +
              "start Monday, Spark's Sunday; count days and divide by the " +
              "convention you mean")
          case other => throw new IllegalArgumentException(
            s"dateDiff: unsupported unit '$other' — " +
              "second/minute/hour/day/month/quarter/year")
        }
      }),
    // %M is the FULL MONTH NAME and %i is minutes, matching ClickHouse's
    // default since 23.3 (formatdatetime_parsedatetime_m_is_month_name =
    // 1; the pre-23.3 reading of %M as minutes would silently print '05'
    // where a current server prints 'January').
    ("formatDateTime", "formatDateTime(ts, '%F ...') - format with ClickHouse %-codes (%Y %y %m %d %H %i %S %F %T %j %a %b %M %%; %M is the month NAME per ClickHouse >= 23.3, %i is minutes)",
      es => {
        require(es.length == 2,
          "formatDateTime(ts, format) - the timezone argument is not supported")
        DateFormatClass(es.head,
          Literal(chPercentToJava(literalString(es(1), "formatDateTime",
            "format"), "formatDateTime")))
      }),
    // parseDateTime — formatDateTime's inverse, the SAME %-code table
    // translated to a Java pattern at build time (so a format that
    // round-trips through formatDateTime parses back bit-exactly). The
    // throwing base form matches ClickHouse (error on a non-matching
    // row); OrNull nulls, OrZero takes ClickHouse's epoch default.
    ("parseDateTime", "parseDateTime(str, '%Y-%m-%d ...') - parse with ClickHouse %-codes, ERROR on non-matching input (parseDateTimeOrNull/OrZero for the lenient forms); no timezone argument",
      es => chParseDateTime(es, failOnError = true)),
    ("parseDateTimeOrNull", "parseDateTimeOrNull(str, '%Y-%m-%d ...') - parseDateTime, NULL when the input does not match the format",
      es => chParseDateTime(es, failOnError = false)),
    ("parseDateTimeOrZero", "parseDateTimeOrZero(str, '%Y-%m-%d ...') - parseDateTime, 1970-01-01 00:00:00 when a non-null input does not match the format (NULL stays NULL)",
      es => If(IsNull(Cast(es.head, StringType)),
        Literal.create(null, TimestampType),
        Coalesce(Seq(chParseDateTime(es, failOnError = false),
          Literal.create(0L, TimestampType))))),
    // parseDateTimeBestEffort — ClickHouse's kitchen-sink parser, mapped
    // onto a DOCUMENTED deterministic subset (the usage string is the
    // contract; shapes outside it are a non-parse, never a guess):
    // ISO 8601 / 'YYYY-MM-DD[ hh:mm:ss[.f]][Z|±hh:mm]' (Spark's own
    // timestamp cast), 'YYYY/MM/DD[ hh:mm:ss]', 'DD.MM.YYYY[ hh:mm:ss]',
    // 'DD Mon YYYY[ hh:mm:ss]' (English month names), and digits-only
    // strings via dedicated lanes (9-10 digits unix SECONDS, 8 compact
    // yyyyMMdd, 14 compact yyyyMMddHHmmss, other digit counts a
    // non-parse). The base form throws on a non-parse
    // (ClickHouse's behavior), OrNull nulls, OrZero takes the epoch.
    ("parseDateTimeBestEffort", "parseDateTimeBestEffort(str) - parse the documented subset (ISO 8601, YYYY/MM/DD, DD.MM.YYYY, DD Mon YYYY, 8/14-digit compact, 9-10 digit unix seconds), ERROR when no shape matches",
      es => { require(es.length == 1, "parseDateTimeBestEffort(str)")
        val s = StringTrim(Cast(es.head, StringType), None)
        val best = chBestEffortTimestamp(s)
        If(And(IsNotNull(s), IsNull(best)),
          Cast(RaiseError(Concat(Seq(
            Literal("parseDateTimeBestEffort: unparseable datetime string '"),
            s,
            Literal("' (supported: ISO 8601, YYYY/MM/DD, DD.MM.YYYY, " +
              "DD Mon YYYY, 8/14-digit compact, 9-10 digit unix seconds; " +
              "parseDateTimeBestEffortOrNull for NULL)")))), TimestampType),
          best) }),
    ("parseDateTimeBestEffortOrNull", "parseDateTimeBestEffortOrNull(str) - parse the documented subset (ISO 8601, YYYY/MM/DD, DD.MM.YYYY, DD Mon YYYY, 8/14-digit compact, 9-10 digit unix seconds), NULL when no shape matches",
      es => { require(es.length == 1, "parseDateTimeBestEffortOrNull(str)")
        chBestEffortTimestamp(StringTrim(Cast(es.head, StringType), None)) }),
    ("parseDateTimeBestEffortOrZero", "parseDateTimeBestEffortOrZero(str) - parseDateTimeBestEffortOrNull, 1970-01-01 00:00:00 when a non-null input matches no shape (NULL stays NULL)",
      es => { require(es.length == 1, "parseDateTimeBestEffortOrZero(str)")
        If(IsNull(Cast(es.head, StringType)),
          Literal.create(null, TimestampType),
          Coalesce(Seq(
            chBestEffortTimestamp(StringTrim(Cast(es.head, StringType), None)),
            Literal.create(0L, TimestampType)))) }),
    // toStartOfInterval — the dashboard time-bucketing workhorse. The
    // interval must be a positive INTERVAL literal: day-time intervals
    // floor epoch micros (floorDiv via Pmod, so pre-1970 buckets stay
    // right) and return TIMESTAMP; year-month intervals floor the
    // calendar month index and return DATE (ClickHouse's convention for
    // month-and-coarser buckets).
    ("toStartOfInterval", "toStartOfInterval(ts, INTERVAL n unit) - floor ts to the n-unit bucket",
      es => {
        require(es.length == 2,
          "toStartOfInterval(ts, INTERVAL n unit) - the timezone argument is not supported")
        def floorDiv(x: Expression, d: Expression) =
          IntegralDivide(Subtract(x, Pmod(x, d)), d)
        es(1) match {
          case Literal(micros: Long, _: DayTimeIntervalType) if micros > 0 =>
            val us = UnixMicros(Cast(es.head, TimestampType))
            MicrosToTimestamp(Multiply(
              floorDiv(us, Literal(micros)), Literal(micros)))
          case Literal(months: Int, _: YearMonthIntervalType) if months > 0 =>
            val idx = Add(Multiply(Year(es.head), Literal(12)),
              Subtract(Month(es.head), Literal(1)))
            val b = Cast(Subtract(idx, Pmod(idx, Literal(months))), IntegerType)
            MakeDate(IntegralDivide(b, Literal(12)),
              Add(Pmod(b, Literal(12)), Literal(1)), Literal(1))
          case other => throw new IllegalArgumentException(
            "toStartOfInterval: the interval must be a positive INTERVAL " +
              s"literal (e.g. INTERVAL 6 HOUR), got $other")
        }
      }),
    // JSONExtract* — the event-payload accessors a ported pipeline leans
    // on. Keys/indices must be literals (they become the JsonPath at
    // build time); ClickHouse indices are 1-based (negative-from-end is
    // a named error — JsonPath has no tail indexing). JSONHas is
    // deliberately absent: get_json_object cannot distinguish an
    // explicit JSON null from a missing key, so a mapping would lie on
    // `{"k":null}` — test the extracted value instead.
    ("JSONExtractString", "JSONExtractString(json, key_or_index...) - string at the path",
      es => GetJsonObject(es.head, jsonPathLit("JSONExtractString", es))),
    ("JSONExtractInt", "JSONExtractInt(json, key_or_index...) - BIGINT at the path",
      es => Cast(GetJsonObject(es.head, jsonPathLit("JSONExtractInt", es)), LongType)),
    ("JSONExtractFloat", "JSONExtractFloat(json, key_or_index...) - DOUBLE at the path",
      es => Cast(GetJsonObject(es.head, jsonPathLit("JSONExtractFloat", es)), DoubleType)),
    ("JSONExtractBool", "JSONExtractBool(json, key_or_index...) - BOOLEAN at the path",
      es => Cast(GetJsonObject(es.head, jsonPathLit("JSONExtractBool", es)), BooleanType)),
    // The RAW JSON forms ride Spark 4's variant kernel (parse_json →
    // variant_get → to_json): unlike get_json_object, to_json of a
    // variant keeps string values QUOTED and null values as the text
    // `null` — exactly ClickHouse's JSONExtractRaw rendering. Absent
    // paths and invalid JSON take ClickHouse's defaults ('' / 0 / []),
    // not NULL. Two RE-RENDER divergences, stated (the variant codec
    // round-trips values, ClickHouse echoes the document's bytes):
    // object keys come back SORTED, and numbers come back CANONICALIZED
    // ('1.50' → '1.5', '1e2' → a plain or normalized exponent form) —
    // both pinned in ClickHouseSqlSpec.
    ("JSONHas", "JSONHas(json, key_or_index...) - true when the path exists (a JSON null value still exists)",
      es => IsNotNull(chVariantAt(es.head, jsonPathLit("JSONHas", es)))),
    ("JSONExtractRaw", "JSONExtractRaw(json, key_or_index...) - raw JSON text at the path (strings stay quoted; object keys re-render SORTED and numbers re-render CANONICALIZED ('1.50' -> '1.5', exponent forms normalized) - the variant codec re-renders, it does not echo the document's bytes as ClickHouse does); '' when absent",
      es => {
        val path = if (es.length == 1) Literal("$")
          else jsonPathLit("JSONExtractRaw", es)
        Coalesce(Seq(
          StructsToJson(Map.empty[String, String],
            chVariantAt(es.head, path), None),
          Literal(""))) }),
    ("JSONExtractArrayRaw", "JSONExtractArrayRaw(json, key_or_index...) - array elements as raw JSON texts (the JSONExtractRaw re-render contract: keys sorted, numbers canonicalized); [] when the path is not an array",
      es => {
        val path = if (es.length == 1) Literal("$")
          else jsonPathLit("JSONExtractArrayRaw", es)
        val arr = VariantGet(ParseJson(Cast(es.head, StringType),
          failOnError = false), path, ArrayType(VariantType),
          failOnError = false, None)
        Coalesce(Seq(
          ArrayTransform(arr,
            lam1(x => StructsToJson(Map.empty[String, String], x, None))),
          Cast(CreateArray(Nil), ArrayType(StringType)))) }),
    ("JSONExtractKeys", "JSONExtractKeys(json[, key_or_index...]) - object keys at the path, in DOCUMENT order; [] when not an object",
      es => {
        // get_json_object, not the variant kernel: its raw substring
        // keeps the document's key order, where the variant encoding
        // would canonicalize keys sorted.
        val src = if (es.length == 1) Cast(es.head, StringType)
          else GetJsonObject(es.head, jsonPathLit("JSONExtractKeys", es))
        Coalesce(Seq(JsonObjectKeys(src),
          Cast(CreateArray(Nil), ArrayType(StringType)))) }),
    ("JSONLength", "JSONLength(json[, key_or_index...]) - element count of the array or object at the path, 0 otherwise (ClickHouse's rule)",
      es => {
        val path = if (es.length == 1) Literal("$")
          else jsonPathLit("JSONLength", es)
        val raw = StructsToJson(Map.empty[String, String],
          chVariantAt(es.head, path), None)
        Cast(Coalesce(Seq(LengthOfJsonArray(raw),
          new Size(JsonObjectKeys(raw)), Literal(0))), LongType) }),
    ("splitByString", "splitByString(sep, s) - split on a literal multi-character separator",
      es => { require(es.length == 2, "splitByString(sep, s)")
        val sep = Option(es.head.eval()).map(_.toString).getOrElse(
          throw new IllegalArgumentException("splitByString separator must not be null"))
        require(sep.nonEmpty, "splitByString separator must be non-empty")
        StringSplit(es(1), Literal(java.util.regex.Pattern.quote(sep)), Literal(-1)) }),
    ("arrayFlatten", "arrayFlatten(arr) - flatten one nesting level",
      es => { require(es.length == 1, "arrayFlatten(arr)"); new Flatten(es.head) }),
    ("arrayZip", "arrayZip(arr1, arr2, ...) - element-wise zip into an array of tuples",
      es => { require(es.length >= 2, "arrayZip(arr1, arr2, ...)")
        ArraysZip(es) }),
    // age is ClickHouse's COMPLETE-PERIOD diff — exactly Spark's
    // timestampdiff semantics, the counterpart of boundary-counting
    // dateDiff: the two ClickHouse functions map to the two semantics,
    // each to its correct native expression. `week` IS supported here
    // (a complete week is a 7-day duration — no week-start convention
    // involved, unlike dateDiff's truncation).
    ("age", "age('unit', start, end) - COMPLETE units elapsed from start to end (ClickHouse age = Spark timestampdiff)",
      es => {
        require(es.length == 3,
          "age('unit', start, end) - the timezone argument is not supported")
        val unit = es.head match {
          case Literal(u, StringType) if u != null => u.toString
          case other => throw new IllegalArgumentException(
            s"age: the unit must be a string literal, got $other")
        }
        val ok = Set("second", "minute", "hour", "day", "week", "month",
          "quarter", "year")
        if (!ok.contains(unit.toLowerCase)) throw new IllegalArgumentException(
          s"age: unsupported unit '$unit' — ${ok.mkString("/")}")
        TimestampDiff(unit.toUpperCase, es(1), es(2))
      }),
    ("leftPad", "leftPad(s, n[, pad]) - pad to n characters on the left (default space)",
      es => es match {
        case Seq(s, n) => StringLPad(s, n, Literal(" "))
        case Seq(s, n, p) => StringLPad(s, n, p)
        case _ => throw new IllegalArgumentException("leftPad(s, n[, pad])")
      }),
    ("rightPad", "rightPad(s, n[, pad]) - pad to n characters on the right (default space)",
      es => es match {
        case Seq(s, n) => StringRPad(s, n, Literal(" "))
        case Seq(s, n, p) => StringRPad(s, n, p)
        case _ => throw new IllegalArgumentException("rightPad(s, n[, pad])")
      }),
    ("leftPadUTF8", "leftPadUTF8(s, n[, pad]) - code-point-aware left pad",
      es => es match {
        case Seq(s, n) => StringLPad(s, n, Literal(" "))
        case Seq(s, n, p) => StringLPad(s, n, p)
        case _ => throw new IllegalArgumentException("leftPadUTF8(s, n[, pad])")
      }),
    ("rightPadUTF8", "rightPadUTF8(s, n[, pad]) - code-point-aware right pad",
      es => es match {
        case Seq(s, n) => StringRPad(s, n, Literal(" "))
        case Seq(s, n, p) => StringRPad(s, n, p)
        case _ => throw new IllegalArgumentException("rightPadUTF8(s, n[, pad])")
      }),
    ("trimLeft", "trimLeft(s) - strip leading whitespace",
      es => { require(es.length == 1, "trimLeft(s)"); new StringTrimLeft(es.head) }),
    ("trimRight", "trimRight(s) - strip trailing whitespace",
      es => { require(es.length == 1, "trimRight(s)"); new StringTrimRight(es.head) }),
    ("trimBoth", "trimBoth(s) - strip leading and trailing whitespace",
      es => { require(es.length == 1, "trimBoth(s)"); new StringTrim(es.head) }),
    ("today", "today() - the current date",
      es => { require(es.isEmpty, "today()"); CurrentDate() }),
    ("now64", "now64([precision]) - the current TIMESTAMP; Spark timestamps are microsecond-native, so precision literals 0-6 all yield the same micros instant (7-9 are a named error: sub-microsecond is not representable)",
      es => es match {
        case Seq() => CurrentTimestamp()
        case Seq(Literal(p: Int, IntegerType)) if p >= 0 && p <= 6 =>
          CurrentTimestamp()
        case Seq(Literal(p: Int, IntegerType)) =>
          throw new IllegalArgumentException(
            s"now64($p): precision above 6 is sub-microsecond — Spark " +
              "timestamps carry microseconds; use precision <= 6")
        case _ => throw new IllegalArgumentException(
          "now64([precision]) - precision must be an integer literal")
      }),
    // toWeek — MySQL's WEEK() mode table, of which ClickHouse documents
    // the same 0-9 spread. Mode 0 (the DEFAULT, Sunday-start weeks 0-53
    // counted from the year's first Sunday) and mode 3 (ISO 8601 =
    // toISOWeek = Spark's weekofyear) are exact arithmetic; the other
    // modes mix week-start and first-week rules with no second
    // implementation to oracle against — named errors.
    ("toWeek", "toWeek(x[, mode]) - week number; mode 0 (default): Sunday-start weeks 0-53 counted from the year's first Sunday (MySQL WEEK mode 0), mode 3: ISO 8601 (= toISOWeek); other modes are named errors",
      es => {
        def day(e: Expression) = Cast(e, DateType)
        def week0(e: Expression): Expression = {
          val d = day(e)
          val doy = DayOfYear(d)
          val jan1 = TruncDate(d, Literal("YEAR"))
          // First Sunday's day-of-year: Spark DayOfWeek is Sun=1..Sat=7.
          val firstSun = Add(Literal(1),
            Pmod(Subtract(Literal(8), DayOfWeek(jan1)), Literal(7)))
          If(LessThan(doy, firstSun), Literal(0),
            Cast(Add(IntegralDivide(Subtract(doy, firstSun), Literal(7L)),
              Literal(1L)), IntegerType))
        }
        es match {
          case Seq(d) => week0(d)
          case Seq(d, Literal(0, IntegerType)) => week0(d)
          case Seq(d, Literal(3, IntegerType)) => WeekOfYear(day(d))
          case Seq(_, Literal(m: Int, IntegerType)) =>
            throw new IllegalArgumentException(
              s"ClickHouse SQL: toWeek mode $m is not supported — modes 0 " +
                "(Sunday-start 0-53) and 3 (ISO 8601) are implemented; the " +
                "other MySQL week modes mix week-start and first-week " +
                "rules — use toISOWeek, toStartOfWeek, or epoch-day " +
                "arithmetic")
          case _ => throw new IllegalArgumentException(
            "toWeek(x[, mode]) - mode must be an integer literal")
        }
      }),
    // formatReadable* — ClickHouse's human-size formatters, as a CASE
    // ladder over the unit thresholds + format_string('%.2f <unit>').
    // Note: Java's %.2f rounds HALF_UP where C-family printf rounds by
    // the double's nearest representation — divergence is confined to
    // exact .xx5 quotients, which binary-power divisions of real sizes
    // essentially never produce (spec-pinned values, not oracled —
    // display helpers).
    ("formatReadableSize", "formatReadableSize(x) - '%.2f B|KiB|MiB|GiB|TiB|PiB|EiB', the largest binary (1024) unit with quotient >= 1",
      es => { require(es.length == 1, "formatReadableSize(x)")
        val x = Cast(es.head, DoubleType)
        val units = Seq("KiB" -> math.pow(1024d, 1), "MiB" -> math.pow(1024d, 2),
          "GiB" -> math.pow(1024d, 3), "TiB" -> math.pow(1024d, 4),
          "PiB" -> math.pow(1024d, 5), "EiB" -> math.pow(1024d, 6))
        val branches = units.reverse.map { case (u, f) =>
          (GreaterThanOrEqual(Abs(x), Literal(f)),
            FormatString(Literal("%.2f " + u), Divide(x, Literal(f))): Expression)
        }
        CaseWhen(branches, Some(FormatString(Literal("%.2f B"), x))) }),
    ("formatReadableDecimalSize", "formatReadableDecimalSize(x) - '%.2f B|KB|MB|GB|TB|PB|EB', the largest decimal (1000) unit with quotient >= 1",
      es => { require(es.length == 1, "formatReadableDecimalSize(x)")
        val x = Cast(es.head, DoubleType)
        val units = Seq("KB" -> 1e3, "MB" -> 1e6, "GB" -> 1e9,
          "TB" -> 1e12, "PB" -> 1e15, "EB" -> 1e18)
        val branches = units.reverse.map { case (u, f) =>
          (GreaterThanOrEqual(Abs(x), Literal(f)),
            FormatString(Literal("%.2f " + u), Divide(x, Literal(f))): Expression)
        }
        CaseWhen(branches, Some(FormatString(Literal("%.2f B"), x))) }),
    ("regexpQuoteMeta", "regexpQuoteMeta(s) - backslash-escape the regex metacharacters \\ | ( ) ^ $ . [ ] ? * + { : -",
      es => { require(es.length == 1, "regexpQuoteMeta(s)")
        RegExpReplace(Cast(es.head, StringType),
          Literal("[\\\\|()^$.\\[\\]?*+{:\\-]"), Literal("\\\\$0")) }),
    ("formatReadableQuantity", "formatReadableQuantity(x) - '%.2f [thousand|million|billion|trillion]', the largest decimal unit with quotient >= 1 (bare '%.2f' below a thousand)",
      es => { require(es.length == 1, "formatReadableQuantity(x)")
        val x = Cast(es.head, DoubleType)
        val units = Seq("thousand" -> 1e3, "million" -> 1e6,
          "billion" -> 1e9, "trillion" -> 1e12)
        val branches = units.reverse.map { case (u, f) =>
          (GreaterThanOrEqual(Abs(x), Literal(f)),
            FormatString(Literal("%.2f " + u), Divide(x, Literal(f))): Expression)
        }
        CaseWhen(branches, Some(FormatString(Literal("%.2f"), x))) }),
    // ClickHouse's BLOCK-LOCAL functions compute within its internal
    // data blocks — the values depend on block boundaries (ClickHouse's
    // own docs call the behavior incidental and point at window
    // functions). No Spark mapping could be faithful to an explicitly
    // boundary-dependent semantic, so each is a named error carrying
    // the window spelling a migration should use.
    chBlockError("runningDifference",
      "x - lagInFrame(x, 1, x) OVER (ORDER BY ...)"),
    chBlockError("runningDifferenceStartingWithFirstValue",
      "x - lagInFrame(x, 1, x) OVER (ORDER BY ...)"),
    chBlockError("runningAccumulate",
      "the aggregate OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)"),
    chBlockError("neighbor",
      "lagInFrame/leadInFrame(x, n, default) OVER (ORDER BY ...)"),
    chBlockError("rowNumberInAllBlocks", "row_number() OVER (ORDER BY ...)"),
    chBlockError("rowNumberInBlock", "row_number() OVER (ORDER BY ...)"),
    ("toTimeZone", "toTimeZone - NOT SUPPORTED: Spark has no per-expression display zone",
      _ => throw new IllegalArgumentException(
        "ClickHouse SQL: toTimeZone changes a DateTime's DISPLAY zone " +
          "(the instant is unchanged; later accessors read wall-clock in " +
          "that zone) — Spark renders all timestamps in the single " +
          "session zone (spark.sql.session.timeZone). To read wall-clock " +
          "fields in another zone use convert_timezone(sessionZone, tz, " +
          "ts): the extracted fields then match ClickHouse's " +
          "toTimeZone+accessor, but the shifted instant must not be " +
          "compared to unshifted timestamps")),
    ("yesterday", "yesterday() - the current date minus one day",
      es => { require(es.isEmpty, "yesterday()")
        DateSub(CurrentDate(), Literal(1)) }),
    ("modulo", "modulo(a, b) - remainder",
      es => { require(es.length == 2, "modulo(a, b)"); Remainder(es(0), es(1)) }),
    ("arrayMin", "arrayMin(arr) - smallest element", one(ArrayMin)),
    ("arrayMax", "arrayMax(arr) - largest element", one(ArrayMax)),
    chEmptyArray("emptyArrayInt8", ByteType),
    chEmptyArray("emptyArrayInt16", ShortType),
    chEmptyArray("emptyArrayInt32", IntegerType),
    chEmptyArray("emptyArrayInt64", LongType),
    chEmptyArray("emptyArrayUInt8", IntegerType),
    chEmptyArray("emptyArrayUInt16", IntegerType),
    chEmptyArray("emptyArrayUInt32", LongType),
    chEmptyArray("emptyArrayUInt64", DecimalType(20, 0)),
    chEmptyArray("emptyArrayFloat32", FloatType),
    chEmptyArray("emptyArrayFloat64", DoubleType),
    chEmptyArray("emptyArrayString", StringType),
    chEmptyArray("emptyArrayDate", DateType),
    chEmptyArray("emptyArrayDateTime", TimestampType),
    ("empty", "empty(arr) - true when the array/map has no elements",
      es => { require(es.length == 1, "empty(arr)")
        EqualTo(new Size(es.head), Literal(0)) }),
    ("notEmpty", "notEmpty(arr) - true when the array/map has elements",
      es => { require(es.length == 1, "notEmpty(arr)")
        GreaterThan(new Size(es.head), Literal(0)) }),
    ("assumeNotNull", "assumeNotNull(x) - x with nullability dropped (the value must not be NULL)",
      es => { require(es.length == 1, "assumeNotNull(x)")
        KnownNotNull(es.head) }),
    ("arrayStringConcat", "arrayStringConcat(arr[, sep]) - join string elements with sep (default '')",
      es => es match {
        case Seq(arr) => ArrayJoin(arr, Literal(""), None)
        case Seq(arr, sep) => ArrayJoin(arr, sep, None)
        case _ => throw new IllegalArgumentException("arrayStringConcat(arr[, sep])")
      }),
    // Bracket indexing + its function spelling (r13): element_at IS
    // ClickHouse's convention — arrays 1-based with negative-from-end,
    // maps by key. Out-of-bounds / missing keys return NULL (the
    // Array(Nullable(T)) lane; ClickHouse's non-nullable default-value
    // lane has no Spark counterpart — stated, not silent). Index 0
    // raises Spark's loud indices-start-at-1 error.
    ("graft_ch_element", "arr[i] / map[k] - ClickHouse bracket indexing: arrays 1-based, negative from end; out-of-bounds and missing map keys -> NULL (the Nullable lane; the non-nullable default-value lane has no counterpart here); index 0 raises",
      es => { require(es.length == 2, "graft_ch_element(base, index)")
        ChBracketIndex(es.head, es(1)) }),
    ("arrayElement", "arrayElement(arr, i) - the bracket-indexing semantics as a function (1-based, negative from end, out-of-bounds -> NULL)",
      es => { require(es.length == 2, "arrayElement(arr, i)")
        ChBracketIndex(es.head, es(1)) }),
    // dateAdd/dateSub land here via the rewrite's TEXTUAL RENAME (the
    // dateDiff/position precedent): Spark already owns `dateadd` as the
    // 2-arg days form, so the unit-first 3-arg spelling cannot register
    // under its own name without clobbering. The unit arrives as a bare
    // identifier or string literal; typing dispatches on the resolved
    // input ([[ChDateAdd]] — Date stays DATE for day-or-coarser units).
    ("graft_ch_dateadd", "dateAdd(unit, n, d) - d plus n units (microsecond..year; a DATE input with day-or-coarser units stays DATE, ClickHouse's typing, otherwise TIMESTAMP)",
      es => { require(es.length == 3, "dateAdd(unit, n, d)")
        ChDateAdd(chUnitName("dateAdd", es.head), es(1), es(2)) }),
    ("graft_ch_datesub", "dateSub(unit, n, d) - d minus n units (dateAdd with the count negated)",
      es => { require(es.length == 3, "dateSub(unit, n, d)")
        ChDateAdd(chUnitName("dateSub", es.head), UnaryMinus(es(1)), es(2)) }),
    ("hasSubstr", "hasSubstr(arr, sub) - true when sub occurs in arr as a CONTIGUOUS run in order (unlike hasAll's set test); an empty sub is contained in anything (ClickHouse's rule)",
      es => { require(es.length == 2, "hasSubstr(arr, sub)")
        val a = es.head
        val b = es(1)
        val nb = new Size(b)
        val span = Subtract(Add(new Size(a), Literal(1)), nb)
        If(EqualTo(nb, Literal(0)), Literal(true),
          If(LessThan(span, Literal(1)), Literal(false),
            ArrayExists(new Sequence(Literal(1), span),
              lam1(i => EqualTo(Slice(a, Cast(i, IntegerType), nb), b))))) }),
    ("indexOf", "indexOf(arr, x) - 1-based position of x in arr, 0 when absent",
      es => { require(es.length == 2, "indexOf(arr, x)")
        ArrayPosition(es(0), es(1)) }),
    ("arrayConcat", "arrayConcat(arr1, arr2, ...) - concatenate arrays",
      es => { require(es.nonEmpty, "arrayConcat(arr, ...)"); Concat(es) }),
    ("arraySlice", "arraySlice(arr, offset[, length]) - 1-based slice; negative offset counts from the end",
      es => es match {
        case Seq(arr, off) => Slice(arr, off, new Size(arr))
        case Seq(arr, off, len) => Slice(arr, off, len)
        case _ => throw new IllegalArgumentException("arraySlice(arr, offset[, length])")
      }),
    ("arrayUniq", "arrayUniq(arr) - number of distinct elements",
      es => { require(es.length == 1, "arrayUniq(arr)")
        new Size(ArrayDistinct(es.head)) }),
    ("lengthUTF8", "lengthUTF8(s) - string length in code points",
      es => { require(es.length == 1, "lengthUTF8(s)"); Length(es.head) }),
    ("lowerUTF8", "lowerUTF8(s) - lowercase", one(Lower)),
    ("upperUTF8", "upperUTF8(s) - uppercase", one(Upper)),
    ("substringUTF8", "substringUTF8(s, offset[, length]) - 1-based substring",
      es => es match {
        case Seq(s, off) => Substring(s, off, Literal(Int.MaxValue))
        case Seq(s, off, len) => Substring(s, off, len)
        case _ => throw new IllegalArgumentException("substringUTF8(s, offset[, length])")
      }),
    // Set predicates / bitwise scalars / replace — 1:1 stock renames.
    // replaceOne is a COMPOSITION (Spark has no first-occurrence-only
    // replace): locate the needle once, splice around it; absent needle
    // leaves the string untouched, empty needle is ClickHouse's no-op.
    ("hasAll", "hasAll(arr, subset) - true when arr contains every element of subset",
      es => { require(es.length == 2, "hasAll(arr, subset)")
        EqualTo(new Size(ArrayExcept(es(1), es(0))), Literal(0)) }),
    ("hasAny", "hasAny(arr1, arr2) - true when the arrays share an element",
      es => { require(es.length == 2, "hasAny(arr1, arr2)")
        ArraysOverlap(es(0), es(1)) }),
    ("arrayIntersect", "arrayIntersect(arr1, arr2) - distinct shared elements",
      es => { require(es.length == 2, "arrayIntersect(arr1, arr2)")
        ArrayIntersect(es(0), es(1)) }),
    ("bitAnd", "bitAnd(a, b)", es => { require(es.length == 2, "bitAnd(a, b)")
      BitwiseAnd(es(0), es(1)) }),
    ("bitOr", "bitOr(a, b)", es => { require(es.length == 2, "bitOr(a, b)")
      BitwiseOr(es(0), es(1)) }),
    ("bitXor", "bitXor(a, b)", es => { require(es.length == 2, "bitXor(a, b)")
      BitwiseXor(es(0), es(1)) }),
    ("bitNot", "bitNot(a)", one(BitwiseNot)),
    ("bitShiftLeft", "bitShiftLeft(a, n)", es => {
      require(es.length == 2, "bitShiftLeft(a, n)"); ShiftLeft(es(0), es(1)) }),
    ("bitShiftRight", "bitShiftRight(a, n)", es => {
      require(es.length == 2, "bitShiftRight(a, n)"); ShiftRight(es(0), es(1)) }),
    ("replaceAll", "replaceAll(s, from, to) - replace every literal occurrence",
      es => { require(es.length == 3, "replaceAll(s, from, to)")
        StringReplace(es(0), es(1), es(2)) }),
    ("replaceOne", "replaceOne(s, from, to) - replace the FIRST literal occurrence",
      es => {
        require(es.length == 3, "replaceOne(s, from, to)")
        val (s, from, to) = (es(0), es(1), es(2))
        val loc = new StringLocate(from, s)
        If(Or(EqualTo(loc, Literal(0)), EqualTo(Length(from), Literal(0))), s,
          Concat(Seq(
            Substring(s, Literal(1), Subtract(loc, Literal(1))),
            to,
            Substring(s, Add(loc, Length(from)), Literal(Int.MaxValue)))))
      }),
    // arrayDifference / arrayCumSum — ClickHouse's adjacent-delta and
    // running-sum array calculus, as index-aware stock lambdas (the
    // two-argument transform form) and one ArrayAggregate scan. Results
    // follow the INPUT element type (pass Int64 for exactness; CH
    // widens — a documented divergence stated in the usage).
    ("arrayDifference", "arrayDifference(arr) - [0, a[1]-a[0], ...] adjacent deltas (result keeps the input type; cast to Int64 first for headroom)",
      es => {
        require(es.length == 1, "arrayDifference(arr)")
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
        val i = UnresolvedNamedLambdaVariable(Seq("__graft_i"))
        ArrayTransform(es.head, LambdaFunction(
          If(EqualTo(i, Literal(0)), Subtract(x, x),
            Subtract(x, GetArrayItem(es.head, Subtract(i, Literal(1))))),
          Seq(x, i)))
      }),
    ("arrayCumSum", "arrayCumSum(arr) - running sums as Int64 (ClickHouse widens similarly)",
      es => {
        require(es.length == 1, "arrayCumSum(arr)")
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_st"))
        val e2 = UnresolvedNamedLambdaVariable(Seq("__graft_e"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
        // One ArrayAggregate scan building the prefix array — O(n) via
        // Concat of the accumulator with the new tail element.
        ArrayAggregate(es.head,
          CreateNamedStruct(Seq(
            Literal("acc"), Cast(CreateArray(Nil), ArrayType(LongType)),
            Literal("run"), Literal(0L))),
          LambdaFunction(
            CreateNamedStruct(Seq(
              Literal("acc"), Concat(Seq(
                UnresolvedExtractValue(st, Literal("acc")),
                CreateArray(Seq(Add(UnresolvedExtractValue(st, Literal("run")), e2))))),
              Literal("run"), Add(UnresolvedExtractValue(st, Literal("run")), e2))),
            Seq(st, e2)),
          LambdaFunction(UnresolvedExtractValue(fin, Literal("acc")), Seq(fin)))
      }),
    ("arrayMap", "arrayMap(func, arr) - apply func to each element",
      chHof("arrayMap")((arr, l) => ArrayTransform(arr, l))),
    ("arrayFilter", "arrayFilter(func, arr) - elements where func is true",
      chHof("arrayFilter")((arr, l) => ArrayFilter(arr, l))),
    ("arrayExists", "arrayExists(func, arr) - true when func holds for some element",
      chHof("arrayExists")((arr, l) => ArrayExists(arr, l))),
    ("arrayAll", "arrayAll(func, arr) - true when func holds for every element",
      chHof("arrayAll")((arr, l) => ArrayForAll(arr, l))),
    // windowFunnel, as a composition of stock expressions: collect the
    // matched (t, step) entries, sort them — SortArray over the structs
    // IS ClickHouse's (timestamp, event_index) pair sort — and fold with
    // ArrayAggregate carrying the per-level chain-start array (null =
    // level unreached). Each entry updates exactly its own level from
    // the PRIOR state: level 1 overwrites the chain start with the
    // latest cond1 time (later start = later deadline, ClickHouse's
    // greedy restart), level j propagates level j-1's chain start when
    // the entry lands within `window` OF THAT START. The window compare
    // is `t - start <= w` (difference form — no overflow under ANSI even
    // for the sequenceMatch rewrite's Long.Max window). Buffering is the
    // group's matched events — the same per-group cost ClickHouse's own
    // windowFunnel pays; at 100 TB the input should be user-keyed, where
    // group sizes are session-scale.
    ("graft_window_funnel",
      "graft_window_funnel(window, ts, cond1, ...) - ClickHouse windowFunnel(window)(ts, conds...): longest consecutive step chain whose events all land within window of the chain's FIRST event; window is in the timestamp column's unit (TIMESTAMP = seconds, the ClickHouse DateTime convention; pass epoch micros as BIGINT for finer windows); per-group memory = that group's MATCHING events only (non-matching rows never buffer), the groupArray cost class ClickHouse's own funnel shares",
      es => {
        require(es.length >= 3, "graft_window_funnel(window, ts, cond1, ...)")
        val w = es.head
        val t = Cast(es(1), LongType)
        val conds = es.drop(2)
        val k = conds.length
        val entryType = StructType(Seq(
          StructField("t", LongType), StructField("i", IntegerType)))
        // Per input row: the (t, step) entries its matched conditions
        // contribute (null-timestamp rows contribute nothing, as in
        // ClickHouse, where aggregate inputs skip nulls).
        val perRow = ArrayFilter(
          CreateArray((1 to k).map { j =>
            If(And(conds(j - 1), IsNotNull(t)),
              CreateNamedStruct(Seq(
                Literal("t"), t, Literal("i"), Literal(j))),
              Literal.create(null, entryType))
          }),
          lam1(IsNotNull))
        val entries = new SortArray(
          Flatten(CollectList(perRow).toAggregateExpression()))
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_st"))
        val en = UnresolvedNamedLambdaVariable(Seq("__graft_en"))
        val enT = UnresolvedExtractValue(en, Literal("t"))
        val enI = UnresolvedExtractValue(en, Literal("i"))
        def stAt(j: Int) = GetArrayItem(st, Literal(j))
        val merge = LambdaFunction(
          CreateArray((1 to k).map { j =>
            if (j == 1) If(EqualTo(enI, Literal(1)), enT, stAt(0))
            else {
              val prev = stAt(j - 2)
              If(And(EqualTo(enI, Literal(j)),
                  And(IsNotNull(prev), LessThanOrEqual(Subtract(enT, prev), w))),
                prev, stAt(j - 1))
            }
          }),
          Seq(st, en))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fst"))
        val finish = LambdaFunction(
          CaseWhen((k to 1 by -1).map(j =>
            (IsNotNull(GetArrayItem(fin, Literal(j - 1))), Literal(j))),
            Some(Literal(0))),
          Seq(fin))
        ArrayAggregate(entries,
          CreateArray(Seq.fill(k)(Literal.create(null, LongType))),
          merge, finish)
      }),
    // windowFunnel's STRICT modes, as a richer fold over the same sorted
    // entry list — a faithful transcription of ClickHouse's documented
    // getEventLevel scan (AggregateFunctionWindowFunnel.h, public
    // sources), where the modes are semantic, not heuristic:
    //   strict_order       — a non-matching event after the chain has
    //                        started TERMINATES the scan ("don't allow
    //                        interruptions"); so does an out-of-order
    //                        matching event whose predecessor level is
    //                        unreached. Non-matching rows therefore
    //                        contribute (t, 0) sentinel entries — only in
    //                        this mode (ClickHouse stores them only when
    //                        strict_order is set).
    //   strict_deduplication — a REPEAT of an already-matched condition
    //                        (level ≥ 2; level 1 repeats just restart the
    //                        chain, as in the plain fold) terminates with
    //                        result = the repeated level — which on an
    //                        UNFINISHED chain can be LOWER than the max
    //                        level already reached (A B C B under a
    //                        4-step funnel yields 2, not 3), so
    //                        termination must be modeled, not
    //                        post-filtered.
    //   strict_increase    — level j additionally requires a timestamp
    //                        strictly AFTER level j-1's LAST matched
    //                        event, so the state carries (first, last)
    //                        per level instead of first only.
    // Reaching level k returns k immediately (matters under
    // strict_deduplication: a later repeat can no longer demote).
    // Equal-timestamp entries are ordered by (t, step) — a DETERMINISTIC
    // refinement of ClickHouse's stable-sort-by-timestamp-only, whose
    // tie order is insertion order and hence merge-order-dependent in a
    // distributed run; this engine's oracle gate requires the
    // determinization (same stance as the plain kernel). State is a
    // struct (done, fe, lv): `done` = terminated result, `fe` =
    // first-event-seen, `lv` = per-level (first, last) chain timestamps.
    // Cost class identical to the plain kernel: the group's events
    // buffer once, the fold is a single pass.
    ("graft_window_funnel_strict",
      "graft_window_funnel_strict(window, flags, ts, cond1, ...) - ClickHouse windowFunnel(window, modes...)(ts, conds...); flags is an integer literal bitmask: 1 = strict_order, 2 = strict_deduplication, 4 = strict_increase; per-group memory = that group's matching events (strict_order buffers ALL of the group's rows - its semantics read non-matching events), single-pass fold after the sort",
      es => {
        require(es.length >= 4,
          "graft_window_funnel_strict(window, flags, ts, cond1, ...)")
        val w = es.head
        val flags = es(1) match {
          case Literal(f: Int, IntegerType) => f
          case other => throw new IllegalArgumentException(
            "graft_window_funnel_strict: flags must be an integer " +
              s"literal bitmask, got $other")
        }
        val strictOrder = (flags & 1) != 0
        val strictDedup = (flags & 2) != 0
        val strictIncrease = (flags & 4) != 0
        val t = Cast(es(2), LongType)
        val conds = es.drop(3).map(c => Coalesce(Seq(c, Literal(false))))
        val k = conds.length
        val entryType = StructType(Seq(
          StructField("t", LongType), StructField("i", IntegerType)))
        def entry(i: Int) = CreateNamedStruct(Seq(
          Literal("t"), t, Literal("i"), Literal(i)))
        val condEntries = (1 to k).map { j =>
          If(And(conds(j - 1), IsNotNull(t)), entry(j),
            Literal.create(null, entryType))
        }
        val perRow = ArrayFilter(
          CreateArray(if (strictOrder)
            // The (t, 0) sentinel for a row matching NO condition —
            // i = 0 sorts before any matched step at the same t, the
            // same pair order ClickHouse's event numbering produces.
            If(And(Not(conds.reduce(Or)), IsNotNull(t)), entry(0),
              Literal.create(null, entryType)) +: condEntries
          else condEntries),
          lam1(IsNotNull))
        val entries = new SortArray(
          Flatten(CollectList(perRow).toAggregateExpression()))
        val lvType = StructType(Seq(
          StructField("f", LongType), StructField("l", LongType)))
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_st"))
        val en = UnresolvedNamedLambdaVariable(Seq("__graft_en"))
        val enT = UnresolvedExtractValue(en, Literal("t"))
        val enI = UnresolvedExtractValue(en, Literal("i"))
        val done = UnresolvedExtractValue(st, Literal("done"))
        val fe = UnresolvedExtractValue(st, Literal("fe"))
        val lv = UnresolvedExtractValue(st, Literal("lv"))
        val nullDone = Literal.create(null, IntegerType)
        def mkSt(d: Expression, f: Expression, l: Expression) =
          CreateNamedStruct(Seq(
            Literal("done"), d, Literal("fe"), f, Literal("lv"), l))
        def lvAt(lvE: Expression, idx0: Int) = GetArrayItem(lvE, Literal(idx0))
        def fOf(e: Expression) = UnresolvedExtractValue(e, Literal("f"))
        def lOf(e: Expression) = UnresolvedExtractValue(e, Literal("l"))
        def setLv(idx0: Int, f: Expression, l: Expression) =
          CreateArray((0 until k).map(x =>
            if (x == idx0)
              CreateNamedStruct(Seq(Literal("f"), f, Literal("l"), l))
            else lvAt(lv, x)))
        def maxLevel(lvE: Expression) =
          CaseWhen((k to 1 by -1).map(j =>
            (IsNotNull(lvAt(lvE, j - 1)), Literal(j))), Some(Literal(0)))
        // "break"/out-of-order termination under strict_order: freeze
        // the result at the current consecutive-prefix length (the set
        // levels always form a prefix, so first-unset == max-set).
        val orderBreak = If(fe, mkSt(maxLevel(lv), fe, lv), st)
        val branches: Seq[(Expression, Expression)] =
          (if (strictOrder) Seq(EqualTo(enI, Literal(0)) -> orderBreak)
           else Seq.empty) ++
          Seq(EqualTo(enI, Literal(1)) ->
            mkSt(nullDone, Literal(true), setLv(0, enT, enT))) ++
          (2 to k).map { j =>
            val own = lvAt(lv, j - 1)
            val prev = lvAt(lv, j - 2)
            val timeOk0 = LessThanOrEqual(Subtract(enT, fOf(prev)), w)
            val timeOk =
              if (strictIncrease) And(timeOk0, LessThan(lOf(prev), enT))
              else timeOk0
            val newLv = setLv(j - 1, fOf(prev), enT)
            val onSet =
              if (j == k) mkSt(Literal(k), fe, newLv)
              else mkSt(nullDone, fe, newLv)
            val onNoPrev = if (strictOrder) orderBreak else st
            val core = If(IsNull(prev), onNoPrev, If(timeOk, onSet, st))
            EqualTo(enI, Literal(j)) -> (
              if (strictDedup)
                If(IsNotNull(own), mkSt(Literal(j), fe, lv), core)
              else core)
          }
        val merge = LambdaFunction(
          If(IsNotNull(done), st, CaseWhen(branches, Some(st))),
          Seq(st, en))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fst"))
        val finish = LambdaFunction(
          Coalesce(Seq(
            UnresolvedExtractValue(fin, Literal("done")),
            maxLevel(UnresolvedExtractValue(fin, Literal("lv"))))),
          Seq(fin))
        val zero = mkSt(nullDone, Literal(false),
          CreateArray(Seq.fill(k)(Literal.create(null, lvType))))
        ArrayAggregate(entries, zero, merge, finish)
      }),
    // sequenceMatch's dedicated kernel — subsequence existence with
    // per-gap time constraints, decided EXACTLY by a fold whose state is
    // the (min, max) of each level's ACHIEVABLE last-event timestamps:
    //   - membership into level j under `t - s <= n` holds iff it holds
    //     for the LATEST achievable s (max), under `>= n` iff for the
    //     EARLIEST (min) — so (min, max) per level decides every
    //     <=/</>=/> constraint without the full set (== would need it;
    //     named error at the rewrite).
    //   - entries are per-ROW bitmasks (one entry per input row, bit j =
    //     row satisfies the pattern's j-th referenced condition), and
    //     every level update reads the PRIOR state — so one row can
    //     occupy only ONE pattern position per chain, ClickHouse's
    //     one-distinct-event-per-(?N) rule (the windowFunnel-fold
    //     mapping this kernel replaces let a row matching two conditions
    //     advance twice when timestamps tied).
    //   - unconstrained gaps need only "some achievable predecessor
    //     exists", which prior-state non-nullness gives (all prior
    //     entries sort earlier).
    // Equal-timestamp entries sort by (t, bitmask) — the deterministic
    // refinement of ClickHouse's insertion-order ties, same stance as
    // windowFunnel. Cost class: the group's matched rows buffer once,
    // one pass.
    ("graft_ch_seq_match",
      "graft_ch_seq_match(ts, k, op_2, n_2, ..., op_k, n_k, cond_1, ..., cond_k) - ClickHouse sequenceMatch('(?1).*[(?t op n)](?2)...'): true when a subsequence matching every condition in order exists, each constrained gap satisfying t_j - t_{j-1} op n (op codes: 0 none, 1 <=, 2 <, 3 >=, 4 >)",
      es => seqKernel("graft_ch_seq_match", es, counting = false)),
    // sequenceCount — the same kernel COUNTING non-overlapping chains:
    // ClickHouse "starts to search for the next chain after the current
    // chain is matched", i.e. a sequential scan that restarts after each
    // match's END event. UNCONSTRAINED gaps only: there each scan step
    // takes the first qualifying event (ClickHouse's matcher is lazy),
    // so the committed match ends at the earliest achievable entry and
    // the fold — complete at the earliest level-k achievability,
    // count++, reset the level state to EMPTY (the completing entry is
    // fully consumed; its other condition bits do not seed the next
    // segment) — IS the restart-scan count. A (?t op n) constraint
    // makes the committed chain depend on the matcher's backtracking
    // order, which ClickHouse does not document as a contract — that
    // form is a NAMED ERROR in the kernel (sequenceMatch existence
    // stays exact for every constraint type: achievability is
    // order-independent).
    ("graft_ch_seq_count",
      "graft_ch_seq_count(ts, k, op_2, n_2, ..., op_k, n_k, cond_1, ..., cond_k) - ClickHouse sequenceCount('(?1).*(?2)...'): number of non-overlapping chains, searching left to right and restarting after each match; UNCONSTRAINED gaps only (op codes must be 0 - a time-constrained count depends on ClickHouse's internal backtracking order)",
      es => seqKernel("graft_ch_seq_count", es, counting = true)),
    // arrayCount folds with ArrayAggregate rather than size(filter(…)):
    // the analyzer requires a call that was GIVEN a lambda argument to
    // resolve to a top-level higher-order function, so the count must BE
    // the HOF, not wrap one. The user lambda's body and variable are
    // spliced directly into the merge lambda.
    ("arrayCount", "arrayCount([func,] arr) - number of elements where func is true (without func: non-zero elements)",
      es => {
        def countWhere(arr: Expression, v: Seq[NamedExpression], pred: Expression) = {
          val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
          val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
          ArrayAggregate(arr, Literal(0),
            LambdaFunction(Add(acc, If(pred, Literal(1), Literal(0))), acc +: v),
            LambdaFunction(fin, Seq(fin)))
        }
        es match {
          case Seq(l: LambdaFunction, arr) => countWhere(arr, l.arguments, l.function)
          case Seq(arr) =>
            val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
            countWhere(arr, Seq(x), Not(EqualTo(x, Literal(0))))
          case _ => throw new IllegalArgumentException("arrayCount([func,] arr)")
        }
      }),
    // ClickHouse's topK is APPROXIMATE (SpaceSaving); this engine's
    // mapping is EXACT top-N-by-frequency with a deterministic tiebreak
    // (count desc, then value asc) — the same exact-beats-approx stance
    // as uniqExact, documented rather than silently different. Cost: the
    // group's values buffer once (the groupArray cost class) and the
    // finisher is O(distinct · n) per group — fine for the
    // low-cardinality columns topK is pointed at; for heavy-hitter
    // mining over high-cardinality keys use a two-level GROUP BY.
    ("graft_ch_topk",
      "graft_ch_topk(n, x) - ClickHouse topK(n)(x): the n most frequent values, count desc then value asc (exact, deterministic)",
      es => {
        require(es.length == 2, "graft_ch_topk(n, x)")
        val arr = new Flatten(CollectList(
          ArrayFilter(CreateArray(Seq(es(1))), lam1(IsNotNull)))
          .toAggregateExpression())
        val e1 = UnresolvedNamedLambdaVariable(Seq("__graft_e"))
        val counted = ArrayTransform(ArrayDistinct(arr), lam1(v =>
          CreateNamedStruct(Seq(
            Literal("negc"), UnaryMinus(Cast(new Size(ArrayFilter(arr,
              LambdaFunction(EqualTo(e1, v), Seq(e1)))), LongType)),
            Literal("v"), v))))
        ArrayTransform(
          Slice(new SortArray(counted), Literal(1), Cast(es.head, IntegerType)),
          lam1(s => UnresolvedExtractValue(s, Literal("v"))))
      }),
    // topKWeighted — the same exact kernel ranked by WEIGHT SUM instead
    // of row count (weights cast to BIGINT, null weights contribute 0 —
    // ClickHouse's UInt weights cannot be null, so only the value
    // column's null-drop is observable). Same cost class and the same
    // two-level-GROUP-BY alternative for high-cardinality keys.
    ("graft_ch_topk_weighted",
      "graft_ch_topk_weighted(n, x, w) - ClickHouse topKWeighted(n)(x, w): the n values with the largest weight sums, sum desc then value asc (exact, deterministic; ClickHouse's is approximate SpaceSaving)",
      es => {
        require(es.length == 3, "graft_ch_topk_weighted(n, x, w)")
        val pair = CreateNamedStruct(Seq(
          Literal("v"), es(1),
          Literal("w"), Cast(Coalesce(Seq(es(2), Literal(0))), LongType)))
        val pairs = new Flatten(CollectList(
          ArrayFilter(CreateArray(Seq(pair)), lam1(p =>
            IsNotNull(UnresolvedExtractValue(p, Literal("v"))))))
          .toAggregateExpression())
        val vals = ArrayDistinct(ArrayTransform(pairs,
          lam1(p => UnresolvedExtractValue(p, Literal("v")))))
        val pf = UnresolvedNamedLambdaVariable(Seq("__graft_pf"))
        val acc = UnresolvedNamedLambdaVariable(Seq("__graft_wacc"))
        val el = UnresolvedNamedLambdaVariable(Seq("__graft_wel"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_wfin"))
        val counted = ArrayTransform(vals, lam1(v => {
          val mine = ArrayFilter(pairs, LambdaFunction(
            EqualTo(UnresolvedExtractValue(pf, Literal("v")), v), Seq(pf)))
          val wsum = ArrayAggregate(mine, Literal(0L),
            LambdaFunction(
              Add(acc, UnresolvedExtractValue(el, Literal("w"))), Seq(acc, el)),
            LambdaFunction(fin, Seq(fin)))
          CreateNamedStruct(Seq(
            Literal("negs"), UnaryMinus(wsum), Literal("v"), v))
        }))
        ArrayTransform(
          Slice(new SortArray(counted), Literal(1), Cast(es.head, IntegerType)),
          lam1(s => UnresolvedExtractValue(s, Literal("v"))))
      }),
    // sumMap returns ClickHouse's pair of parallel arrays as a struct
    // (keys sorted ascending, values the per-key sums); value sums are
    // BIGINT (pass integer-scaled inputs for exactness, the repo's
    // integer-micro discipline). Null keys drop, as in ClickHouse's
    // Map-flavored aggregates.
    ("sumMap",
      "sumMap(k, v) - SCALAR per-row (k, v) pairs -> struct(keys, values): sorted distinct keys and the per-key BIGINT sums",
      es => {
        require(es.length == 2, "sumMap(k, v)")
        val pair = CreateNamedStruct(Seq(
          Literal("k"), es(0), Literal("v"), Cast(es(1), LongType)))
        val pairs = new Flatten(CollectList(
          ArrayFilter(CreateArray(Seq(pair)), lam1(p =>
            IsNotNull(UnresolvedExtractValue(p, Literal("k"))))))
          .toAggregateExpression())
        val keys = new SortArray(ArrayDistinct(ArrayTransform(pairs,
          lam1(p => UnresolvedExtractValue(p, Literal("k"))))))
        val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
        val p2 = UnresolvedNamedLambdaVariable(Seq("__graft_p"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
        val vals = ArrayTransform(keys, lam1(key =>
          ArrayAggregate(pairs, Literal(0L),
            LambdaFunction(
              If(EqualTo(UnresolvedExtractValue(p2, Literal("k")), key),
                Add(acc, UnresolvedExtractValue(p2, Literal("v"))), acc),
              Seq(acc, p2)),
            LambdaFunction(fin, Seq(fin)))))
        CreateNamedStruct(Seq(
          Literal("keys"), keys, Literal("values"), vals))
      }),
    // minMap/maxMap ride the same collect-pairs kernel, with the per-key
    // reduction an array_min/array_max over the key's values (input
    // type preserved — no widening needed for min/max).
    ("minMap",
      "minMap(k, v) - SCALAR per-row (k, v) pairs -> struct(keys, values): sorted distinct keys and the per-key minimum",
      es => { require(es.length == 2, "minMap(k, v)")
        chMapAgg(es(0), es(1), vs => new ArrayMin(vs)) }),
    ("maxMap",
      "maxMap(k, v) - SCALAR per-row (k, v) pairs -> struct(keys, values): sorted distinct keys and the per-key maximum",
      es => { require(es.length == 2, "maxMap(k, v)")
        chMapAgg(es(0), es(1), vs => new ArrayMax(vs)) }),
    ("tuple", "tuple(a, b, ...) - a struct with POSITIONAL fields col1, col2, ... (always, even for column inputs — tupleElement(t, n) relies on it)",
      es => { require(es.nonEmpty, "tuple(a, ...)")
        CreateNamedStruct(es.zipWithIndex.flatMap { case (e, i) =>
          Seq(Literal(s"col${i + 1}"), e) }) }),
    ("countEqual", "countEqual(arr, x) - number of elements equal to x",
      es => { require(es.length == 2, "countEqual(arr, x)")
        val e1 = UnresolvedNamedLambdaVariable(Seq("__graft_e"))
        new Size(ArrayFilter(es(0),
          LambdaFunction(EqualTo(e1, es(1)), Seq(e1)))) }),
    ("arraySort", "arraySort(arr) - ascending sort, nulls LAST (the ClickHouse placement; Spark's sort_array puts them first, hence the split)",
      es => { require(es.length == 1,
          "arraySort(arr) - the lambda-keyed form is not supported; sort a mapped copy instead")
        Concat(Seq(
          new SortArray(ArrayFilter(es.head, lam1(IsNotNull))),
          ArrayFilter(es.head, lam1(IsNull)))) }),
    ("arrayReverseSort", "arrayReverseSort(arr) - descending sort, nulls LAST (ClickHouse keeps them last in both directions)",
      es => { require(es.length == 1,
          "arrayReverseSort(arr) - the lambda-keyed form is not supported; sort a mapped copy instead")
        Concat(Seq(
          SortArray(ArrayFilter(es.head, lam1(IsNotNull)), Literal(false)),
          ArrayFilter(es.head, lam1(IsNull)))) }),
    ("graft_ch_quantile_exact",
      "graft_ch_quantile_exact(x, level) - ClickHouse quantileExact: the sorted element at index floor(level*n)",
      es => { require(es.length == 2, "graft_ch_quantile_exact(x, level)")
        quantileExactElement(es(0), es(1)) }),
    ("graft_ch_quantile_exact_low",
      "graft_ch_quantile_exact_low(x, level) - ClickHouse quantileExactLow: Python median_low (sorted index (n-1) div 2) at level 0.5; any other level returns the sorted element at 0-based floor(level*n), clamped",
      es => { require(es.length == 2, "graft_ch_quantile_exact_low(x, level)")
        quantileExactLowHigh(es(0), es(1), high = false) }),
    ("graft_ch_quantile_exact_high",
      "graft_ch_quantile_exact_high(x, level) - ClickHouse quantileExactHigh: Python median_high (sorted index n div 2) at level 0.5; any other level returns the sorted element at 0-based floor(level*n), clamped",
      es => { require(es.length == 2, "graft_ch_quantile_exact_high(x, level)")
        quantileExactLowHigh(es(0), es(1), high = true) }),
    // `median` is deliberately NOT mapped: Spark's own `median` (exact,
    // interpolating) wins by the no-clobber rule — exact-beats-approx,
    // the uniqExact stance, where ClickHouse's median is the approximate
    // quantile(0.5). `medianExact` IS mapped — it is quantileExact(0.5),
    // the element convention, which Spark's interpolating median does
    // not have.
    ("medianExact", "medianExact(x) - the sorted element at index floor(0.5*n) (ClickHouse quantileExact convention)",
      es => { require(es.length == 1, "medianExact(x)")
        quantileExactElement(es.head, Literal(0.5d)) }),
    ("medianExactLow", "medianExactLow(x) - quantileExactLow at level 0.5 (Python median_low: sorted index (n-1) div 2)",
      es => { require(es.length == 1, "medianExactLow(x)")
        quantileExactLowHigh(es.head, Literal(0.5d), high = false) }),
    ("medianExactHigh", "medianExactHigh(x) - quantileExactHigh at level 0.5 (Python median_high: sorted index n div 2)",
      es => { require(es.length == 1, "medianExactHigh(x)")
        quantileExactLowHigh(es.head, Literal(0.5d), high = true) }),
    // The -If combinator over the aggregates whose base forms are
    // already mapped (cond is ClickHouse's LAST argument). Empty-match
    // results are NULL where ClickHouse returns the column type's
    // default — the same documented divergence as minIf/maxIf (NULL has
    // no silent wrong value; a default would).
    ("uniqExactIf", "uniqExactIf(x..., cond) - exact distinct count over rows where cond is true",
      es => { require(es.length >= 2, "uniqExactIf(x..., cond)")
        val key = if (es.length == 2) es.head else CreateStruct(es.dropRight(1))
        Count(Seq(If(es.last, key, Literal.create(null, NullType))))
          .toAggregateExpression(isDistinct = true) }),
    ("uniqIf", "uniqIf(x..., cond) - approximate distinct count over rows where cond is true",
      es => { require(es.length >= 2, "uniqIf(x..., cond)")
        val key = if (es.length == 2) es.head else CreateStruct(es.dropRight(1))
        HyperLogLogPlusPlus(If(es.last, key, Literal.create(null, NullType))) }),
    ("argMaxIf", "argMaxIf(a, b, cond) - a at the row with the maximum b among rows where cond is true",
      es => { require(es.length == 3, "argMaxIf(a, b, cond)")
        MaxBy(If(es(2), es(0), Literal.create(null, NullType)),
          If(es(2), es(1), Literal.create(null, NullType))) }),
    ("argMinIf", "argMinIf(a, b, cond) - a at the row with the minimum b among rows where cond is true",
      es => { require(es.length == 3, "argMinIf(a, b, cond)")
        MinBy(If(es(2), es(0), Literal.create(null, NullType)),
          If(es(2), es(1), Literal.create(null, NullType))) }),
    ("groupArrayIf", "groupArrayIf(x, cond) - collected values over rows where cond is true",
      es => { require(es.length == 2, "groupArrayIf(x, cond)")
        CollectList(If(es(1), es(0), Literal.create(null, NullType)))
          .toAggregateExpression() }),
    ("anyLastIf", "anyLastIf(x, cond) - last non-null x among rows where cond is true",
      es => { require(es.length == 2, "anyLastIf(x, cond)")
        Last(If(es(1), es(0), Literal.create(null, NullType)), ignoreNulls = true)
          .toAggregateExpression() }),
    ("intDiv", "intDiv(a, b) - integer division rounding toward zero (the stock `div` operator)",
      es => { require(es.length == 2, "intDiv(a, b)")
        IntegralDivide(es(0), es(1)) }),
    ("toInt64", "toInt64(x) - cast to BIGINT", cast(LongType)),
    ("toInt32", "toInt32(x) - cast to INT", cast(IntegerType)),
    ("toUInt32", "toUInt32(x) - cast to BIGINT (covers the UInt32 range)", cast(LongType)),
    ("toUInt64", "toUInt64(x) - cast to DECIMAL(20,0) (covers the UInt64 range)",
      cast(DecimalType(20, 0))),
    ("toFloat64", "toFloat64(x) - cast to DOUBLE", cast(DoubleType)),
    ("toFloat32", "toFloat32(x) - cast to FLOAT", cast(FloatType)),
    ("toString", "toString(x) - cast to STRING", cast(StringType)),
    ("toDate", "toDate(x) - cast to DATE", cast(DateType)),
    ("toDateTime", "toDateTime(x) - cast to TIMESTAMP", cast(TimestampType)),
    // Date bucketing — the functions an incremental-ETL custom_query
    // actually leans on. CH's toStartOf{Month,Quarter,Year} return Date
    // (TruncDate), the sub-day ones return DateTime (TruncTimestamp).
    // toStartOfWeek carries ClickHouse's toWeek mode PARITY exactly:
    // the default (and every even mode) starts weeks on SUNDAY —
    // date_sub(d, dayofweek(d)-1), Spark's dayofweek being 1=Sunday —
    // and every odd mode (1, 3, …) starts them on MONDAY —
    // date_sub(d, weekday(d)), weekday being 0=Monday. Mapping the bare
    // form to Spark's Monday-based trunc('week') would be the silent
    // off-by-one-day this layer's contract forbids; both conventions
    // are exact arithmetic, so both are implemented rather than named
    // errors.
    ("toStartOfWeek",
      "toStartOfWeek(x[, mode]) - first day of x's week as DATE; default/even mode = Sunday start, odd mode = Monday start (ClickHouse toWeek mode parity)",
      es => {
        def day(e: Expression) = Cast(e, DateType)
        def sunday(e: Expression) =
          DateSub(day(e), Subtract(DayOfWeek(day(e)), Literal(1)))
        def monday(e: Expression) = DateSub(day(e), WeekDay(day(e)))
        es match {
          case Seq(d) => sunday(d)
          case Seq(d, Literal(m: Int, IntegerType)) if m >= 0 && m <= 9 =>
            if (m % 2 == 1) monday(d) else sunday(d)
          case _ => throw new IllegalArgumentException(
            "toStartOfWeek(x[, mode]) - mode must be an integer literal " +
              "0-9 (timezone argument not supported)")
        }
      }),
    ("toYear", "toYear(x) - calendar year", one(Year(_))),
    // Spark's weekofyear/yearofweek are ISO-8601 — exactly ClickHouse's
    // toISOWeek/toISOYear (the mode-dependent toWeek/toYearWeek remain
    // unmapped: most modes have no Spark counterpart).
    ("toISOWeek", "toISOWeek(x) - ISO-8601 week number 1-53",
      one(e => WeekOfYear(Cast(e, DateType)))),
    ("toISOYear", "toISOYear(x) - ISO-8601 week-numbering year",
      one(e => YearOfWeek(Cast(e, DateType)))),
    ("toMonth", "toMonth(x) - month 1-12", one(Month(_))),
    ("toDayOfMonth", "toDayOfMonth(x) - day 1-31", one(DayOfMonth(_))),
    ("toHour", "toHour(x) - hour 0-23", one(Hour(_))),
    ("toMinute", "toMinute(x) - minute 0-59", one(Minute(_))),
    ("toSecond", "toSecond(x) - second 0-59", one(Second(_))),
    ("toStartOfDay", "toStartOfDay(x) - midnight of x's day, as TIMESTAMP",
      one(e => TruncTimestamp(Literal("DAY"), Cast(e, TimestampType)))),
    ("toStartOfHour", "toStartOfHour(x) - top of x's hour, as TIMESTAMP",
      one(e => TruncTimestamp(Literal("HOUR"), Cast(e, TimestampType)))),
    ("toStartOfMinute", "toStartOfMinute(x) - top of x's minute, as TIMESTAMP",
      one(e => TruncTimestamp(Literal("MINUTE"), Cast(e, TimestampType)))),
    ("toStartOfMonth", "toStartOfMonth(x) - first day of x's month, as DATE",
      one(e => TruncDate(Cast(e, DateType), Literal("MONTH")))),
    ("toStartOfQuarter", "toStartOfQuarter(x) - first day of x's quarter, as DATE",
      one(e => TruncDate(Cast(e, DateType), Literal("QUARTER")))),
    ("toStartOfYear", "toStartOfYear(x) - first day of x's year, as DATE",
      one(e => TruncDate(Cast(e, DateType), Literal("YEAR")))),
    ("toYYYYMM", "toYYYYMM(x) - year*100 + month, as INT",
      one(e => Add(Multiply(Year(e), Literal(100)), Month(e)))),
    ("toYYYYMMDD", "toYYYYMMDD(x) - year*10000 + month*100 + day, as INT",
      one(e => Add(Multiply(Add(Multiply(Year(e), Literal(100)), Month(e)),
        Literal(100)), DayOfMonth(e)))),
    ("toUnixTimestamp", "toUnixTimestamp(x) - epoch seconds, as BIGINT",
      one(e => UnixTimestamp(Cast(e, TimestampType),
        Literal("yyyy-MM-dd HH:mm:ss")))),
    // ---------------- URL functions (r11) — the web-analytics accessors
    // a ported dashboard query leans on, over Spark's parse_url with
    // ClickHouse's ''-not-NULL convention. cut* are pure string surgery
    // (no URL parse), so they keep ClickHouse's behavior on scheme-less
    // input too.
    chUrl("protocol", "PROTOCOL", "the scheme"),
    chUrl("domain", "HOST", "the host"),
    chUrl("path", "PATH", "the path without query string"),
    chUrl("pathFull", "FILE", "the path including query string"),
    chUrl("queryString", "QUERY", "the query string without '?'"),
    chUrl("fragment", "REF", "the fragment without '#'"),
    ("domainWithoutWWW", "domainWithoutWWW(url) - the host with a leading 'www.' stripped, '' when absent",
      es => { require(es.length == 1, "domainWithoutWWW(url)")
        RegExpReplace(Coalesce(Seq(
          ParseUrl(Seq(Cast(es.head, StringType), Literal("HOST")),
            failOnError = false),
          Literal(""))), Literal("^www\\."), Literal("")) }),
    ("extractURLParameter", "extractURLParameter(url, name) - value of the named query parameter, '' when absent",
      es => { require(es.length == 2, "extractURLParameter(url, name)")
        Coalesce(Seq(ParseUrl(Seq(Cast(es.head, StringType), Literal("QUERY"),
          es(1)), failOnError = false), Literal(""))) }),
    ("cutQueryString", "cutQueryString(url) - url without its query string (the fragment is kept, as ClickHouse)",
      es => { require(es.length == 1, "cutQueryString(url)")
        val u = Cast(es.head, StringType)
        val q = new StringLocate(Literal("?"), u)
        val f = new StringLocate(Literal("#"), u)
        val before = Substring(u, Literal(1), Subtract(q, Literal(1)))
        val fragPart = If(GreaterThan(f, q),
          Substring(u, f, Literal(Int.MaxValue)), Literal(""))
        If(Or(EqualTo(q, Literal(0)),
            And(GreaterThan(f, Literal(0)), LessThan(f, q))),
          u, Concat(Seq(before, fragPart))) }),
    ("cutFragment", "cutFragment(url) - url without its '#fragment'",
      es => { require(es.length == 1, "cutFragment(url)")
        val u = Cast(es.head, StringType)
        val f = new StringLocate(Literal("#"), u)
        If(EqualTo(f, Literal(0)), u,
          Substring(u, Literal(1), Subtract(f, Literal(1)))) }),
    ("cutQueryStringAndFragment", "cutQueryStringAndFragment(url) - url cut at the first '?' or '#'",
      es => { require(es.length == 1, "cutQueryStringAndFragment(url)")
        val u = Cast(es.head, StringType)
        val q = new StringLocate(Literal("?"), u)
        val f = new StringLocate(Literal("#"), u)
        val cut = If(EqualTo(q, Literal(0)), f,
          If(EqualTo(f, Literal(0)), q, Least(Seq(q, f))))
        If(EqualTo(cut, Literal(0)), u,
          Substring(u, Literal(1), Subtract(cut, Literal(1)))) }),
    // ---------------- URL functions, the r13 batch: the remaining
    // spellings a web-analytics migration hits. netloc rides parse_url's
    // AUTHORITY (exactly ClickHouse's username:password@host:port);
    // queryStringAndFragment and the parameter-array forms are pure
    // string surgery on the '?'-anchored tail (separator corners stated
    // in the usage strings and spec-pinned); cutURLParameter requires a
    // LITERAL name (it becomes a quoted regex at build time — the
    // jsonPath/dictGet precedent) and removes every occurrence.
    ("netloc", "netloc(url) - network locality username:password@host:port ('' when unparseable)",
      es => { require(es.length == 1, "netloc(url)")
        Coalesce(Seq(ParseUrl(Seq(Cast(es.head, StringType),
          Literal("AUTHORITY")), failOnError = false), Literal(""))) }),
    ("queryStringAndFragment", "queryStringAndFragment(url) - everything after the first '?' (query plus '#fragment'); with no '?' the fragment FROM its '#' ('#' is the separator the rendering keeps, matching the with-query form); '' when neither exists",
      es => { require(es.length == 1, "queryStringAndFragment(url)")
        val u = Cast(es.head, StringType)
        val q = new StringLocate(Literal("?"), u)
        val f = new StringLocate(Literal("#"), u)
        If(GreaterThan(q, Literal(0)),
          Substring(u, Add(q, Literal(1)), Literal(Int.MaxValue)),
          If(GreaterThan(f, Literal(0)),
            Substring(u, f, Literal(Int.MaxValue)), Literal(""))) }),
    ("extractURLParameters", "extractURLParameters(url) - the query string's name=value items as array<string> (split on '&', empty items dropped, fragment excluded; [] when no query string)",
      es => { require(es.length == 1, "extractURLParameters(url)")
        chUrlParams(es.head) }),
    ("extractURLParameterNames", "extractURLParameterNames(url) - the query string's parameter NAMES as array<string> (the text before each item's first '='; a bare item is its own name)",
      es => { require(es.length == 1, "extractURLParameterNames(url)")
        ArrayTransform(chUrlParams(es.head), lam1(p =>
          RegExpReplace(p, Literal("=.*$"), Literal("")))) }),
    ("cutURLParameter", "cutURLParameter(url, name) - url with every name=value query parameter of that LITERAL name removed (separators healed; a sole parameter leaves the trailing '?', stated)",
      es => {
        require(es.length == 2, "cutURLParameter(url, name)")
        val name = es(1) match {
          case Literal(s, StringType) if s != null => s.toString
          case other => throw new IllegalArgumentException(
            "ClickHouse SQL: cutURLParameter's parameter name must be a " +
              s"string literal (it becomes the removal pattern), got $other")
        }
        val q = java.util.regex.Pattern.quote(name)
        // The regex runs on the PRE-'#' head only (a '&' inside the
        // fragment must never start a match — review repro), and each
        // alternative consumes a whole RUN of consecutive repeats so a
        // trailing repeat cannot survive its predecessor eating the
        // shared '&' (review repro: '?a=1&a=2' kept 'a=2' under the
        // single-item form). Order: leading-after-'?' runs (trailing
        // '&' consumed when more parameters follow; a sole run leaves
        // the '?'), then interior/trailing '&'-led runs.
        val item = s"$q=[^&]*"
        val pat = s"(?<=\\?)$item(&$item)*&?|&$item(&$item)*"
        val u = Cast(es.head, StringType)
        val f = new StringLocate(Literal("#"), u)
        val head = If(EqualTo(f, Literal(0)), u,
          Substring(u, Literal(1), Subtract(f, Literal(1))))
        val frag = If(EqualTo(f, Literal(0)), Literal(""),
          Substring(u, f, Literal(Int.MaxValue)))
        Concat(Seq(RegExpReplace(head, Literal(pat), Literal("")), frag)) }),
    // ---------------- search / regex (r11). Bare `position` stays
    // deliberately unmapped (Spark's own `position` exists with the
    // ARGUMENTS REVERSED — haystack-first here, needle-first there — and
    // the no-clobber rule keeps the stock one); the UTF8/CaseInsensitive
    // variants have no stock name, so they carry ClickHouse's
    // haystack-first order. `match` is ClickHouse's RE2 search mapped to
    // rlike — Java regex accepts the common RE2 surface (RE2 has no
    // backrefs/lookarounds to diverge on), a documented dialect pairing.
    // graft_ch_position — the textual-rename target for ClickHouse's
    // bare `position(haystack, needle[, start])`. ClickHouse's bare form
    // counts BYTES: the needle is located at code points (a valid UTF-8
    // needle can only match at a code-point boundary, so the first
    // code-point hit IS the first byte hit) and the prefix's octet
    // length converts the offset — exact byte semantics, not an
    // ASCII-only approximation. The optional start is a CODE-POINT
    // offset (equal to the byte offset on ASCII haystacks — the byte
    // interpretation would need a byte-substring Spark does not have;
    // the boundary is stated here, not guessed).
    ("graft_ch_position", "position(haystack, needle[, start]) - ClickHouse argument order, 1-based BYTE position, 0 when absent (start is a code-point offset)",
      es => {
        require(es.length == 2 || es.length == 3,
          "position(haystack, needle[, start])")
        val h = Cast(es.head, StringType)
        val n = Cast(es(1), StringType)
        val loc = if (es.length == 3) StringLocate(n, h, es(2))
          else new StringLocate(n, h)
        If(LessThanOrEqual(loc, Literal(0)), loc,
          Add(OctetLength(Substring(h, Literal(1), Subtract(loc, Literal(1)))),
            Literal(1)))
      }),
    ("positionUTF8", "positionUTF8(haystack, needle[, start]) - 1-based code-point position, 0 when absent (ClickHouse argument order)",
      es => es match {
        case Seq(h, n) => new StringLocate(n, h)
        case Seq(h, n, s) => StringLocate(n, h, s)
        case _ => throw new IllegalArgumentException(
          "positionUTF8(haystack, needle[, start])")
      }),
    ("positionCaseInsensitive", "positionCaseInsensitive(haystack, needle[, start]) - case-folded 1-based position, 0 when absent (ClickHouse argument order)",
      es => es match {
        case Seq(h, n) => new StringLocate(Lower(n), Lower(h))
        case Seq(h, n, s) => StringLocate(Lower(n), Lower(h), s)
        case _ => throw new IllegalArgumentException(
          "positionCaseInsensitive(haystack, needle[, start])")
      }),
    ("positionCaseInsensitiveUTF8", "positionCaseInsensitiveUTF8(haystack, needle[, start]) - case-folded 1-based position, 0 when absent (ClickHouse argument order)",
      es => es match {
        case Seq(h, n) => new StringLocate(Lower(n), Lower(h))
        case Seq(h, n, s) => StringLocate(Lower(n), Lower(h), s)
        case _ => throw new IllegalArgumentException(
          "positionCaseInsensitiveUTF8(haystack, needle[, start])")
      }),
    // ---------------- IPv4 family (r12). The engine's IPv4 value
    // representation is ClickHouse's own under the hood: the UInt32
    // address number (CH's IPv4 type IS a UInt32 with display sugar),
    // carried as BIGINT. The IPv6 family (r14, further down) carries
    // FixedString(16) as BINARY through graft.functions.Ipv6Codec.
    ("IPv4NumToString", "IPv4NumToString(n) - dotted-quad string of the low 32 bits of n (the UInt32 address number)",
      es => { require(es.length == 1, "IPv4NumToString(n)")
        val l = BitwiseAnd(Cast(es.head, LongType), Literal(4294967295L))
        def oct(sh: Int) = Cast(BitwiseAnd(ShiftRight(l, Literal(sh)),
          Literal(255L)), StringType)
        Concat(Seq(oct(24), Literal("."), oct(16), Literal("."), oct(8),
          Literal("."), oct(0))) }),
    ("IPv4StringToNum", "IPv4StringToNum(s) - UInt32 address number of a dotted-quad string, ERROR on an invalid address (IPv4StringToNumOrNull for NULL)",
      es => { require(es.length == 1, "IPv4StringToNum(s)")
        val v = ipv4OrNull(es.head)
        If(And(IsNotNull(Cast(es.head, StringType)), IsNull(v)),
          Cast(RaiseError(Concat(Seq(
            Literal("IPv4StringToNum: invalid IPv4 address '"),
            Cast(es.head, StringType), Literal("'")))), LongType), v) }),
    ("IPv4StringToNumOrNull", "IPv4StringToNumOrNull(s) - UInt32 address number of a dotted-quad string, NULL when invalid",
      es => { require(es.length == 1, "IPv4StringToNumOrNull(s)")
        ipv4OrNull(es.head) }),
    ("IPv4StringToNumOrDefault", "IPv4StringToNumOrDefault(s) - UInt32 address number of a dotted-quad string, 0 when a non-null input is invalid (NULL stays NULL)",
      es => { require(es.length == 1, "IPv4StringToNumOrDefault(s)")
        If(IsNull(Cast(es.head, StringType)), Literal.create(null, LongType),
          Coalesce(Seq(ipv4OrNull(es.head), Literal(0L)))) }),
    ("toIPv4OrNull", "toIPv4OrNull(s) - the address as its UInt32 number (the engine's IPv4 representation), NULL when invalid",
      es => { require(es.length == 1, "toIPv4OrNull(s)")
        ipv4OrNull(es.head) }),
    ("isIPv4String", "isIPv4String(s) - true when s is a valid dotted-quad IPv4 address",
      es => { require(es.length == 1, "isIPv4String(s)")
        RLike(Cast(es.head, StringType), Literal(Ipv4Pattern)) }),
    ("IPv4CIDRToRange", "IPv4CIDRToRange(ip, prefix) - tuple (col1, col2) of the lowest and highest UInt32 address numbers in the /prefix block containing ip",
      es => {
        require(es.length == 2, "IPv4CIDRToRange(ip, prefix)")
        val p = Cast(es(1), IntegerType)
        val bad = Or(LessThan(p, Literal(0)), GreaterThan(p, Literal(32)))
        val span = ShiftLeft(Literal(1L), Subtract(Literal(32), p))
        val l = BitwiseAnd(Cast(es.head, LongType), Literal(4294967295L))
        val lo = Subtract(l, Pmod(l, span))
        val hi = Subtract(Add(lo, span), Literal(1L))
        val guard = If(bad, Cast(RaiseError(
          Literal("IPv4CIDRToRange: the prefix must be in 0..32")),
          LongType), lo)
        CreateNamedStruct(Seq(Literal("col1"), guard, Literal("col2"), hi))
      }),
    // ---------------- string distances (r12). ClickHouse's editDistance
    // family is byte-based; Spark's Levenshtein counts code points —
    // identical on ASCII, and `editDistanceUTF8` is the exact pairing.
    // byteHammingDistance/stringJaccardIndex split strings into
    // code-point arrays (one UTF8String scan each): position mismatches
    // AND the length difference both count for hamming (ClickHouse's
    // rule for unequal lengths), and the Jaccard sets are DISTINCT
    // code points. The byte-vs-code-point boundary is stated here:
    // non-ASCII inputs count multi-byte characters once, not per byte.
    ("editDistance", "editDistance(a, b) - Levenshtein distance (code-point based; equals ClickHouse's byte distance on ASCII)",
      es => { require(es.length == 2, "editDistance(a, b)")
        Cast(Levenshtein(Cast(es.head, StringType), Cast(es(1), StringType),
          None), LongType) }),
    ("editDistanceUTF8", "editDistanceUTF8(a, b) - Levenshtein distance over code points",
      es => { require(es.length == 2, "editDistanceUTF8(a, b)")
        Cast(Levenshtein(Cast(es.head, StringType), Cast(es(1), StringType),
          None), LongType) }),
    ("levenshteinDistance", "levenshteinDistance(a, b) - alias of editDistance",
      es => { require(es.length == 2, "levenshteinDistance(a, b)")
        Cast(Levenshtein(Cast(es.head, StringType), Cast(es(1), StringType),
          None), LongType) }),
    ("byteHammingDistance", "byteHammingDistance(a, b) - positions that differ plus the length difference (code-point based; equals ClickHouse's byte distance on ASCII)",
      es => { require(es.length == 2, "byteHammingDistance(a, b)")
        val ca = chars(es.head)
        val cb = chars(es(1))
        val xv = UnresolvedNamedLambdaVariable(Seq("__graft_hx"))
        val yv = UnresolvedNamedLambdaVariable(Seq("__graft_hy"))
        // ZipWith pads the shorter side with NULLs: <=> is false there,
        // so the padded tail counts as differences — ClickHouse's rule.
        val diffs = ZipWith(ca, cb, LambdaFunction(
          If(EqualNullSafe(xv, yv), Literal(0L), Literal(1L)), Seq(xv, yv)))
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_hst"))
        val e2 = UnresolvedNamedLambdaVariable(Seq("__graft_he"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_hf"))
        ArrayAggregate(diffs, Literal(0L),
          LambdaFunction(Add(st, e2), Seq(st, e2)),
          LambdaFunction(fin, Seq(fin))) }),
    ("stringJaccardIndex", "stringJaccardIndex(a, b) - |distinct chars in both| / |distinct chars in either|, as DOUBLE (code-point sets; two empty strings -> 1.0, a stated convention)",
      es => { require(es.length == 2, "stringJaccardIndex(a, b)")
        val ad = ArrayDistinct(chars(es.head))
        val bd = ArrayDistinct(chars(es(1)))
        val union = Cast(new Size(ArrayUnion(ad, bd)), DoubleType)
        If(EqualTo(union, Literal(0.0d)), Literal(1.0d),
          Divide(Cast(new Size(ArrayIntersect(ad, bd)), DoubleType), union)) }),
    // geohash — the standard interleaved-bisection cell id (longitude
    // takes the FIRST bit), folded bit-by-bit with a bounds struct.
    // Every step halves an interval at an exact binary midpoint, so the
    // doubles are bit-reproducible across engines; decode returns the
    // cell CENTER as ClickHouse does. Spec-pinned on the published
    // vectors (ezs42, u4pruydqqvj); the oracle leg is the round-trip
    // containment identity (decode(encode(p)) lands within half a cell
    // of p, and coarser precisions are string PREFIXES).
    ("geohashEncode", "geohashEncode(lon, lat[, precision=12]) - geohash cell id, base32, precision 1..12 (an integer literal)",
      es => {
        require(es.length == 2 || es.length == 3,
          "geohashEncode(lon, lat[, precision])")
        val prec = if (es.length == 2) 12 else es(2) match {
          case Literal(p: Int, IntegerType) if p >= 1 && p <= 12 => p
          case other => throw new IllegalArgumentException(
            s"geohashEncode: the precision must be an integer literal in 1..12, got $other")
        }
        val lon = Cast(es.head, DoubleType)
        val lat = Cast(es(1), DoubleType)
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_gst"))
        val iv = UnresolvedNamedLambdaVariable(Seq("__graft_gi"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_gf"))
        def f(n: String) = UnresolvedExtractValue(st, Literal(n))
        val isLon = EqualTo(Pmod(iv, Literal(2)), Literal(1))
        val midLon = Multiply(Add(f("lo0"), f("lo1")), Literal(0.5d))
        val midLat = Multiply(Add(f("la0"), f("la1")), Literal(0.5d))
        val bit = If(isLon, GreaterThanOrEqual(lon, midLon),
          GreaterThanOrEqual(lat, midLat))
        val chNext = Add(Multiply(f("ch"), Literal(2)),
          If(bit, Literal(1), Literal(0)))
        val emit = EqualTo(Pmod(iv, Literal(5)), Literal(0))
        val step = CreateNamedStruct(Seq(
          Literal("lo0"), If(And(isLon, bit), midLon, f("lo0")),
          Literal("lo1"), If(And(isLon, Not(bit)), midLon, f("lo1")),
          Literal("la0"), If(And(Not(isLon), bit), midLat, f("la0")),
          Literal("la1"), If(And(Not(isLon), Not(bit)), midLat, f("la1")),
          Literal("ch"), If(emit, Literal(0), chNext),
          Literal("out"), If(emit,
            Concat(Seq(f("out"), Substring(Literal(GeoB32),
              Add(chNext, Literal(1)), Literal(1)))), f("out"))))
        ArrayAggregate(
          new Sequence(Literal(1), Literal(prec * 5), Literal(1)),
          CreateNamedStruct(Seq(
            Literal("lo0"), Literal(-180.0d), Literal("lo1"), Literal(180.0d),
            Literal("la0"), Literal(-90.0d), Literal("la1"), Literal(90.0d),
            Literal("ch"), Literal(0), Literal("out"), Literal(""))),
          LambdaFunction(step, Seq(st, iv)),
          LambdaFunction(UnresolvedExtractValue(fin, Literal("out")), Seq(fin)))
      }),
    ("geohashDecode", "geohashDecode(s) - tuple (col1 = longitude, col2 = latitude) of the cell CENTER; ERROR on a non-base32 character",
      es => {
        require(es.length == 1, "geohashDecode(s)")
        val s = Cast(es.head, StringType)
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_dgst"))
        val iv = UnresolvedNamedLambdaVariable(Seq("__graft_dgi"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_dgf"))
        def f(n: String) = UnresolvedExtractValue(st, Literal(n))
        val charIdx = Add(IntegralDivide(Subtract(iv, Literal(1L)),
          Literal(5L)), Literal(1L))
        val loc = new StringLocate(Substring(s, Cast(charIdx, IntegerType),
          Literal(1)), Literal(GeoB32))
        val ch = If(LessThanOrEqual(loc, Literal(0)),
          Cast(RaiseError(Concat(Seq(
            Literal("geohashDecode: invalid geohash '"), s, Literal("'")))),
            IntegerType),
          Subtract(loc, Literal(1)))
        val bitPos = Cast(Subtract(Literal(4L),
          Pmod(Subtract(iv, Literal(1L)), Literal(5L))), IntegerType)
        val bit = EqualTo(Pmod(ShiftRight(ch, bitPos), Literal(2)), Literal(1))
        val isLon = EqualTo(Pmod(iv, Literal(2L)), Literal(1L))
        val midLon = Multiply(Add(f("lo0"), f("lo1")), Literal(0.5d))
        val midLat = Multiply(Add(f("la0"), f("la1")), Literal(0.5d))
        val step = CreateNamedStruct(Seq(
          Literal("lo0"), If(And(isLon, bit), midLon, f("lo0")),
          Literal("lo1"), If(And(isLon, Not(bit)), midLon, f("lo1")),
          Literal("la0"), If(And(Not(isLon), bit), midLat, f("la0")),
          Literal("la1"), If(And(Not(isLon), Not(bit)), midLat, f("la1"))))
        val folded = ArrayAggregate(
          new Sequence(Literal(1L),
            Multiply(Cast(Length(s), LongType), Literal(5L)), Literal(1L)),
          CreateNamedStruct(Seq(
            Literal("lo0"), Literal(-180.0d), Literal("lo1"), Literal(180.0d),
            Literal("la0"), Literal(-90.0d), Literal("la1"), Literal(90.0d))),
          LambdaFunction(step, Seq(st, iv)),
          LambdaFunction(CreateNamedStruct(Seq(
            Literal("col1"), Multiply(Add(
              UnresolvedExtractValue(fin, Literal("lo0")),
              UnresolvedExtractValue(fin, Literal("lo1"))), Literal(0.5d)),
            Literal("col2"), Multiply(Add(
              UnresolvedExtractValue(fin, Literal("la0")),
              UnresolvedExtractValue(fin, Literal("la1"))), Literal(0.5d)))),
            Seq(fin)))
        // '' decodes with ZERO refinements — the whole-world cell's
        // center (0, 0), the bisection algebra's own answer — instead
        // of Sequence(1, 0)'s boundary error.
        If(EqualTo(Length(s), Literal(0)),
          CreateNamedStruct(Seq(
            Literal("col1"), Literal(0.0d), Literal("col2"), Literal(0.0d))),
          folded)
      }),
    ("alphaTokens", "alphaTokens(s) - maximal runs of a-z/A-Z letters, as an array (ClickHouse's ASCII-letter rule, not Unicode classes)",
      es => { require(es.length == 1, "alphaTokens(s)")
        RegExpExtractAll(Cast(es.head, StringType), Literal("[a-zA-Z]+"),
          Literal(0)) }),
    ("arrayShingles", "arrayShingles(arr, n) - all length-n contiguous windows, as an array of arrays (ERROR when n < 1 or n > length, ClickHouse's rule)",
      es => { require(es.length == 2, "arrayShingles(arr, n)")
        val arr = es.head
        val n = Cast(es(1), IntegerType)
        val count = Add(Subtract(new Size(arr), n), Literal(1))
        val bad = Or(LessThan(n, Literal(1)), LessThan(count, Literal(1)))
        // The raise rides the window COUNT (same integer type), so the
        // error branch needs no knowledge of the unresolved array's
        // element type.
        val guarded = If(bad, Cast(RaiseError(Literal(
          "arrayShingles: the shingle size must be in 1..length(arr)")),
          IntegerType), count)
        ArrayTransform(
          new Sequence(Literal(1), guarded),
          lam1(i => Slice(arr, i, n))) }),
    // bar — ClickHouse's inline histogram glyph. The band width is
    // (x-min)/(max-min)*width, clamped to [0, width], rendered at
    // ClickHouse's 1/8-character resolution: ⌊w⌋ full blocks (█) plus
    // the partial block for the remaining eighths (▏▎▍▌▋▊▉),
    // ROUNDED to the nearest eighth — the stated convention.
    ("bar", "bar(x, min, max[, width=80]) - unicode bar of width (x-min)/(max-min)*width characters at 1/8 resolution",
      es => {
        require(es.length == 3 || es.length == 4, "bar(x, min, max[, width])")
        val width = if (es.length == 4) Cast(es(3), DoubleType)
          else Literal(80.0d)
        val frac = Divide(
          Subtract(Cast(es.head, DoubleType), Cast(es(1), DoubleType)),
          Subtract(Cast(es(2), DoubleType), Cast(es(1), DoubleType)),
          EvalMode.LEGACY)
        val w = Multiply(Greatest(Seq(Literal(0.0d),
          Least(Seq(Literal(1.0d), frac)))), width)
        val eighths = Floor(Add(Multiply(w, Literal(8.0d)), Literal(0.5d)))
        val full = IntegralDivide(eighths, Literal(8L))
        val rem = Pmod(eighths, Literal(8L))
        Concat(Seq(
          StringRepeat(Literal("█"), Cast(full, IntegerType)),
          If(EqualTo(rem, Literal(0L)), Literal(""),
            Substring(
              Literal("▏▎▍▌▋▊▉"),
              Cast(rem, IntegerType), Literal(1))))) }),
    // deltaSum — the sum of POSITIVE deltas between consecutive values,
    // in execution order (order-dependent, as in ClickHouse — the
    // groupArray stance; feed it a one-partition ordered relation for a
    // reproducible answer). Folds the collected column once with a
    // (prev, acc) struct state.
    ("deltaSum", "deltaSum(x) - sum of positive consecutive differences, as DOUBLE (collection order is execution order, as in ClickHouse)",
      es => { require(es.length == 1, "deltaSum(x)")
        val xs = CollectList(Cast(es.head, DoubleType)).toAggregateExpression()
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_dst"))
        val e2 = UnresolvedNamedLambdaVariable(Seq("__graft_de"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_dfin"))
        def fld(e: Expression, f: String) = UnresolvedExtractValue(e, Literal(f))
        val step = CreateNamedStruct(Seq(
          Literal("prev"), e2,
          Literal("acc"), Add(fld(st, "acc"),
            If(And(IsNotNull(fld(st, "prev")),
              GreaterThan(e2, fld(st, "prev"))),
              Subtract(e2, fld(st, "prev")), Literal(0.0d)))))
        ArrayAggregate(xs,
          CreateNamedStruct(Seq(
            Literal("prev"), Literal.create(null, DoubleType),
            Literal("acc"), Literal(0.0d))),
          LambdaFunction(step, Seq(st, e2)),
          LambdaFunction(fld(fin, "acc"), Seq(fin))) }),
    // groupArrayMovingSum/Avg — running-window arrays in collection
    // order (the groupArray stance). One prefix-sum pass, then
    // out[i] = cum[i] − cum[i−n] — the prefix-difference ClickHouse's
    // own implementation computes. DOUBLE lane (exact for integers to
    // 2^53); the parameterless forms take ClickHouse's window =
    // all-rows rule (MovingSum → cumulative sums, MovingAvg divides by
    // the TOTAL count); the parameterized avg divides by the WINDOW
    // SIZE even for the leading partial windows — ClickHouse's rule.
    ("graft_ch_moving_sum", "groupArrayMovingSum(n)(x) - running n-window sums in collection order, as array<double>",
      es => { require(es.length == 2, "groupArrayMovingSum(n)(x)")
        chMovingArray(es(1), Some(es.head), avg = false) }),
    ("graft_ch_moving_avg", "groupArrayMovingAvg(n)(x) - running n-window sums divided by n (ClickHouse divides by the window size even for leading partial windows), as array<double>",
      es => { require(es.length == 2, "groupArrayMovingAvg(n)(x)")
        chMovingArray(es(1), Some(es.head), avg = true) }),
    ("groupArrayMovingSum", "groupArrayMovingSum(x) - cumulative sums in collection order (window = all rows), as array<double>",
      es => { require(es.length == 1, "groupArrayMovingSum(x)")
        chMovingArray(es.head, None, avg = false) }),
    ("groupArrayMovingAvg", "groupArrayMovingAvg(x) - cumulative sums divided by the TOTAL count (ClickHouse's all-rows window), as array<double>",
      es => { require(es.length == 1, "groupArrayMovingAvg(x)")
        chMovingArray(es.head, None, avg = true) }),
    ("match", "match(haystack, pattern) - true when the RE2 pattern matches a substring (mapped to rlike; Java regex accepts the common RE2 surface)",
      es => { require(es.length == 2, "match(haystack, pattern)")
        RLike(es.head, es(1)) }),
    // The LIKE-family function spellings. `like`/`ilike` are stock Spark
    // names (no-clobber keeps them; same %/_ wildcard semantics); the
    // negated forms have no stock name.
    ("notLike", "notLike(haystack, pattern) - NOT (haystack LIKE pattern)",
      es => { require(es.length == 2, "notLike(haystack, pattern)")
        Not(new Like(es.head, es(1))) }),
    ("notILike", "notILike(haystack, pattern) - NOT (haystack ILIKE pattern), case-insensitive wildcards",
      es => { require(es.length == 2, "notILike(haystack, pattern)")
        Not(new ILike(es.head, es(1))) }),
    ("multiMatchAny", "multiMatchAny(haystack, patterns) - true when ANY of the regex patterns matches a substring (ClickHouse evaluates via hyperscan; Java regex accepts the common RE2 surface, the match() pairing)",
      es => { require(es.length == 2, "multiMatchAny(haystack, patterns)")
        val h = es.head
        ArrayExists(es(1), lam1(p => RLike(h, p))) }),
    ("arrayResize", "arrayResize(arr, size, extender) - truncate or pad with extender to |size| elements; positive sizes work on the RIGHT end, negative sizes on the LEFT (ClickHouse's rule); the 2-arg form is a named error: ClickHouse pads it with the ELEMENT type's default, which needs the resolved type - pass the extender explicitly",
      es => es match {
        case Seq(arr, size, ext) =>
          val sz = Cast(size, IntegerType)
          val n = new Size(arr)
          val negLen = UnaryMinus(sz)
          If(GreaterThanOrEqual(sz, Literal(0)),
            If(GreaterThanOrEqual(n, sz),
              Slice(arr, Literal(1), Greatest(Seq(sz, Literal(0)))),
              Concat(Seq(arr, ArrayRepeat(ext, Subtract(sz, n))))),
            // Negative size: keep/pad from the LEFT — the last |size|
            // elements, left-padded with the extender when |size| > n.
            If(GreaterThanOrEqual(n, negLen),
              Slice(arr, sz, negLen),
              Concat(Seq(ArrayRepeat(ext, Subtract(negLen, n)), arr))))
        case Seq(_, _) => throw new IllegalArgumentException(
          "arrayResize(arr, size) pads with the element TYPE's default, " +
            "which a builder cannot synthesize — pass the extender " +
            "explicitly: arrayResize(arr, size, 0 / '' / …)")
        case _ => throw new IllegalArgumentException(
          "arrayResize(arr, size, extender)")
      }),
    ("extractAll", "extractAll(haystack, pattern) - array of every match; with a capture group, the group's text (pattern must be a string literal)",
      es => {
        require(es.length == 2, "extractAll(haystack, pattern)")
        val pat = es(1) match {
          case Literal(s, StringType) if s != null => s.toString
          case other => throw new IllegalArgumentException(
            "extractAll: the pattern must be a string literal (the capture-" +
              s"group arity picks the extraction index at build time), got $other")
        }
        val idx = if (java.util.regex.Pattern.compile(pat).matcher("").groupCount() > 0) 1 else 0
        RegExpExtractAll(es.head, es(1), Literal(idx))
      }),
    ("countSubstrings", "countSubstrings(haystack, needle) - non-overlapping occurrences of needle, as BIGINT (0 for an empty needle)",
      es => { require(es.length == 2, "countSubstrings(haystack, needle)")
        val (h, n) = (es.head, es(1))
        If(EqualTo(Length(n), Literal(0)), Literal(0L),
          IntegralDivide(
            Subtract(Length(h), Length(StringReplace(h, n, Literal("")))),
            Length(n))) }),
    ("multiSearchAny", "multiSearchAny(haystack, [needle, ...]) - true when any needle is a substring",
      es => { require(es.length == 2, "multiSearchAny(haystack, [needles])")
        ArrayExists(es(1), lam1(n => Contains(es.head, n))) }),
    // ---------------- encoding / digests (r11). SHA224/256/384/512
    // return BINARY exactly as ClickHouse's FixedString digests, so
    // `hex(SHA256(x))` round-trips bit-identically (Spark's hex of
    // binary is uppercase, like ClickHouse's). SHA1/MD5 stay stock by
    // no-clobber (Spark's return lowercase HEX STRINGS — wrap in unhex
    // for the binary form). The non-cryptographic hash family
    // (cityHash64...) is named-error by design: see [[chHashError]].
    ("base64Encode", "base64Encode(s) - base64 of the string's bytes",
      es => { require(es.length == 1, "base64Encode(s)")
        new Base64(Cast(es.head, BinaryType)) }),
    ("base64Decode", "base64Decode(s) - decoded string (invalid input raises, as ClickHouse; use tryBase64Decode to tolerate)",
      es => { require(es.length == 1, "base64Decode(s)")
        Cast(new UnBase64(es.head), StringType) }),
    ("tryBase64Decode", "tryBase64Decode(s) - decoded string, '' on invalid input",
      es => { require(es.length == 1, "tryBase64Decode(s)")
        Coalesce(Seq(TryEval(Cast(new UnBase64(es.head), StringType)),
          Literal(""))) }),
    ("SHA224", "SHA224(s) - 28-byte binary digest (hex() it for the text form)",
      es => { require(es.length == 1, "SHA224(s)")
        Unhex(Sha2(Cast(es.head, BinaryType), Literal(224))) }),
    ("SHA256", "SHA256(s) - 32-byte binary digest (hex() it for the text form)",
      es => { require(es.length == 1, "SHA256(s)")
        Unhex(Sha2(Cast(es.head, BinaryType), Literal(256))) }),
    ("SHA384", "SHA384(s) - 48-byte binary digest (hex() it for the text form)",
      es => { require(es.length == 1, "SHA384(s)")
        Unhex(Sha2(Cast(es.head, BinaryType), Literal(384))) }),
    ("SHA512", "SHA512(s) - 64-byte binary digest (hex() it for the text form)",
      es => { require(es.length == 1, "SHA512(s)")
        Unhex(Sha2(Cast(es.head, BinaryType), Literal(512))) }),
    chHashError("cityHash64"), chHashError("sipHash64"),
    chHashError("sipHash128"), chHashError("farmHash64"),
    chHashError("farmFingerprint64"), chHashError("halfMD5"),
    chHashError("xxHash32"),
    chHashError("intHash32"), chHashError("intHash64"),
    // dict* on an extension session: the mapping needs a TEXT rewrite
    // (the lookup becomes a scalar subquery, which a function builder
    // cannot emit) — these stubs turn Spark's generic undefined-function
    // failure into the actionable pointer. Through ClickHouseSql.sql the
    // rewrite replaces the calls before analysis, so the stubs never fire
    // there.
    chDictError("dictGet"), chDictError("dictGetOrDefault"),
    chDictError("dictGetOrNull"), chDictError("dictHas"),
    chDictError("dictGetString"), chDictError("dictGetInt64"),
    chDictError("dictGetUInt64"), chDictError("dictGetFloat64"),
    chDictError("dictGetDate"), chDictError("dictGetDateTime"),
    // The remaining common spellings with no faithful mapping — each a
    // NAMED error carrying the closest exact alternative, never a
    // silent approximation.
    // ngramDistance/ngramSearch (r13, replacing r12 named errors):
    // ClickHouse's DOCUMENTED 4-gram multiset algorithm computed
    // exactly — see [[chNgramMultiset]] for the byte-vs-UTF8 gram
    // contract, the exact-vs-hashed-counter stance, and the <4-char
    // empty-multiset boundary.
    ("ngramDistance", "ngramDistance(haystack, needle) - 4-gram multiset symmetric difference / total gram count, DOUBLE in [0,1], 0 = identical (ClickHouse's documented definition computed EXACTLY over UTF-8 byte grams; ClickHouse folds grams into 2^16 hashed counters whose collisions can perturb its result, and renders Float32 - the wider DOUBLE lane is stated; strings under 4 bytes have the empty multiset: two gram-less strings -> 0, gram-less vs grammed -> 1)",
      es => { require(es.length == 2, "ngramDistance(haystack, needle)")
        chNgramDistanceExpr(es.head, es(1), ci = false, utf8 = false) }),
    ("ngramDistanceCaseInsensitive", "ngramDistanceCaseInsensitive(haystack, needle) - ngramDistance after ASCII A-Z lowering (ClickHouse's byte tolower; non-ASCII case is NOT folded in the byte variant)",
      es => { require(es.length == 2,
        "ngramDistanceCaseInsensitive(haystack, needle)")
        chNgramDistanceExpr(es.head, es(1), ci = true, utf8 = false) }),
    ("ngramDistanceUTF8", "ngramDistanceUTF8(haystack, needle) - ngramDistance over CODE-POINT 4-grams (multi-byte characters count once)",
      es => { require(es.length == 2, "ngramDistanceUTF8(haystack, needle)")
        chNgramDistanceExpr(es.head, es(1), ci = false, utf8 = true) }),
    ("ngramDistanceCaseInsensitiveUTF8", "ngramDistanceCaseInsensitiveUTF8(haystack, needle) - code-point 4-grams after full Unicode lowercasing",
      es => { require(es.length == 2,
        "ngramDistanceCaseInsensitiveUTF8(haystack, needle)")
        chNgramDistanceExpr(es.head, es(1), ci = true, utf8 = true) }),
    ("ngramSearch", "ngramSearch(haystack, needle) - common 4-grams / needle 4-grams, DOUBLE in [0,1], closer to 1 = needle more likely contained (ClickHouse's documented non-symmetric form 1 - diff/|needle|, computed exactly over UTF-8 byte grams; a needle under 4 bytes scores 0, stated)",
      es => { require(es.length == 2, "ngramSearch(haystack, needle)")
        chNgramSearchExpr(es.head, es(1), ci = false, utf8 = false) }),
    ("ngramSearchCaseInsensitive", "ngramSearchCaseInsensitive(haystack, needle) - ngramSearch after ASCII A-Z lowering",
      es => { require(es.length == 2,
        "ngramSearchCaseInsensitive(haystack, needle)")
        chNgramSearchExpr(es.head, es(1), ci = true, utf8 = false) }),
    ("ngramSearchUTF8", "ngramSearchUTF8(haystack, needle) - ngramSearch over code-point 4-grams",
      es => { require(es.length == 2, "ngramSearchUTF8(haystack, needle)")
        chNgramSearchExpr(es.head, es(1), ci = false, utf8 = true) }),
    ("ngramSearchCaseInsensitiveUTF8", "ngramSearchCaseInsensitiveUTF8(haystack, needle) - code-point 4-grams after full Unicode lowercasing",
      es => { require(es.length == 2,
        "ngramSearchCaseInsensitiveUTF8(haystack, needle)")
        chNgramSearchExpr(es.head, es(1), ci = true, utf8 = true) }),
    // exponentialMovingAverage (r13, replacing the r12 named error):
    // the docs-pinned closed form is ORDER-INDEPENDENT (every point
    // decays to the max-t anchor), so no row-order determinization is
    // even needed — see [[chEmaExpr]]. Registered at the 3-arg spelling
    // the agg(params)(args) rewrite emits; the bare call works too.
    ("exponentialMovingAverage", "exponentialMovingAverage(x)(v, t) - (1 - 2^(-1/x)) * sum(v_i * 2^(-(max(t) - t_i)/x)), x = half-life in t's units (ClickHouse's exponentially smoothed weighted moving average at the latest time point, pinned by its docs' worked example; order-independent, folded over (t, v)-sorted pairs for bit-stable doubles; NULL pairs skipped; empty group -> 0.0)",
      es => { require(es.length == 3, "exponentialMovingAverage(x)(v, t)")
        chEmaExpr(es.head, es(1), es(2)) }),
    ("studentTTest", "studentTTest - not mapped; a named error",
      _ => throw new IllegalArgumentException(
        "ClickHouse SQL: studentTTest/welchTTest return p-values from the " +
          "t-distribution CDF (an incomplete-beta special function this " +
          "engine does not ship, and an approximation would silently " +
          "disagree) — compute the t-statistic exactly from avg/varSamp/" +
          "count per group and look the p-value up downstream")),
    ("welchTTest", "welchTTest - not mapped; a named error",
      _ => throw new IllegalArgumentException(
        "ClickHouse SQL: studentTTest/welchTTest return p-values from the " +
          "t-distribution CDF — compute the Welch statistic exactly from " +
          "avg/varSamp/count per group and look the p-value up downstream")),
    // The r13 named-error additions — each a mapping that WOULD silently
    // diverge: the significant-subdomain pair depends on an embedded
    // public-suffix list ClickHouse's own docs mark as changeable; the
    // geo distances use an internal sphere radius + series approximation
    // the docs state no formula for.
    ("firstSignificantSubdomain", "firstSignificantSubdomain - not mapped; a named error",
      _ => throw new IllegalArgumentException(
        "ClickHouse SQL: firstSignificantSubdomain depends on ClickHouse's " +
          "embedded public-suffix list, which its docs explicitly mark as " +
          "changeable — derive the label explicitly from domain(url) with " +
          "splitByChar('.', …) against your own suffix rules")),
    ("cutToFirstSignificantSubdomain", "cutToFirstSignificantSubdomain - not mapped; a named error",
      _ => throw new IllegalArgumentException(
        "ClickHouse SQL: cutToFirstSignificantSubdomain shares " +
          "firstSignificantSubdomain's public-suffix-list dependence — " +
          "derive it from domain(url) with splitByChar('.', …)")),
    ("greatCircleDistance", "greatCircleDistance - not mapped; a named error",
      _ => throw new IllegalArgumentException(
        "ClickHouse SQL: greatCircleDistance/geoDistance use an internal " +
          "sphere radius and series approximation ClickHouse's docs state " +
          "no formula for — an independent implementation would silently " +
          "differ; spell the haversine explicitly: 2 * 6371000 * " +
          "asin(sqrt(pow(sin(radians(lat2-lat1)/2), 2) + cos(radians(lat1))" +
          " * cos(radians(lat2)) * pow(sin(radians(lon2-lon1)/2), 2)))")),
    ("geoDistance", "geoDistance - not mapped; a named error",
      _ => throw new IllegalArgumentException(
        "ClickHouse SQL: geoDistance (WGS-84-adjusted) shares " +
          "greatCircleDistance's unstated-formula gap — spell the " +
          "haversine explicitly with your chosen radius")),
    // pointInPolygon (r14 — a named error through r13): the signature is
    // documented (point tuple, outer ring, optional hole rings); the
    // on-edge/self-intersection rules are NOT, so the mapping STATES
    // them (boundary-is-inside, even-odd half-open ray casting, implicit
    // ring closure — the full contract in
    // [[graft.functions.PointInPolygon]]). Spell the point as
    // tuple(x, y) and rings as array(tuple(...), ...).
    ("pointInPolygon", "pointInPolygon(tuple(x, y), ring, holes...) - even-odd ray-casting containment with BOUNDARY-IS-INSIDE (stated: ClickHouse pins no on-edge rule), holes subtracted (their boundary still inside), rings implicitly closed; NULL point/ring/vertex -> NULL",
      es => {
        require(es.length >= 2, "pointInPolygon(point, ring[, holes...])")
        val pt = StructType(Seq(StructField("col1", DoubleType),
          StructField("col2", DoubleType)))
        graft.functions.PointInPolygon(
          Cast(es.head, pt), es.tail.map(r => Cast(r, ArrayType(pt))))
      }),
    // URLHierarchy/URLPathHierarchy (r14 — named errors through r13):
    // the truncation rule IS documented (cut after each run of
    // consecutive '/','?' separators in the path+query region; full URL
    // last when it doesn't end in a run; PathHierarchy strips
    // protocol+host and drops the root '/'), and the remaining corners
    // are STATED in [[graft.functions.UrlHierarchy]] (no-path → empty
    // array, '#' is not a separator, scheme-less scan-from-0, '/?' is
    // one run) — the sparkbar precedent.
    ("URLHierarchy", "URLHierarchy(url) - prefixes of url cut AFTER each run of consecutive '/'/'?' separators in the path+query (full URL last unless it ends in a run; no separator after the host -> []; '#' is not a separator; stated corners in the kernel scaladoc)",
      one(e => graft.functions.UrlHierarchy(Cast(e, StringType),
        pathOnly = false))),
    ("URLPathHierarchy", "URLPathHierarchy(url) - URLHierarchy with protocol and host stripped from every element and the root '/' excluded",
      one(e => graft.functions.UrlHierarchy(Cast(e, StringType),
        pathOnly = true))),
    ("mannWhitneyUTest", "mannWhitneyUTest - not mapped; a named error",
      _ => throw new IllegalArgumentException(
        "ClickHouse SQL: mannWhitneyUTest returns a normal-approximation " +
          "p-value — the U statistic itself is exact rank algebra: " +
          "sum(rank) OVER the pooled ordering minus n1(n1+1)/2, the " +
          "arrayAUC rank discipline")),
    ("byteSize", "byteSize - not mapped; a named error",
      _ => throw new IllegalArgumentException(
        "ClickHouse SQL: byteSize reports ClickHouse's INTERNAL value " +
          "representation sizes, which have no Spark counterpart — for " +
          "string/binary payload sizes use octet_length")),
    // ---------------- IPv6 family (r14 — named errors through r13). The
    // engine's IPv6 representation is ClickHouse's own under the hood:
    // the FixedString(16) network-order binary, carried as BINARY — so
    // byte comparison/sorting on the column matches ClickHouse's
    // FixedString ordering, the property the r12/r13 refusals protected.
    // Parse grammar and RFC 5952 render (with ClickHouse's documented
    // IPv4-mapped ::ffff:a.b.c.d mixed-notation exception, and the
    // stated IPv4-COMPATIBLE boundary) live in
    // [[graft.functions.Ipv6Codec]] — codegen'd kernels, no InetAddress.
    ("IPv6NumToString", "IPv6NumToString(b) - RFC 5952 string of a 16-byte binary IPv6 value (lowercase, longest >=2 zero run compressed leftmost, IPv4-MAPPED addresses in ::ffff:a.b.c.d mixed notation; IPv4-COMPATIBLE ::a.b.c.d stays pure hex — stated boundary); ERROR on a non-16-byte binary",
      one(e => graft.functions.Ipv6Render(Cast(e, BinaryType)))),
    ("IPv6StringToNum", "IPv6StringToNum(s) - 16-byte binary of an IPv6 string (hex either case, one ::, embedded dotted tail; a plain IPv4 string maps to ::ffff:a.b.c.d), ERROR on an invalid address (IPv6StringToNumOrNull for NULL)",
      es => { require(es.length == 1, "IPv6StringToNum(s)")
        val s = Cast(es.head, StringType)
        val v = graft.functions.Ipv6Parse(s, acceptIpv4 = true)
        If(And(IsNotNull(s), IsNull(v)),
          Cast(RaiseError(Concat(Seq(
            Literal("IPv6StringToNum: invalid IPv6 address '"),
            s, Literal("'")))), BinaryType), v) }),
    ("IPv6StringToNumOrNull", "IPv6StringToNumOrNull(s) - 16-byte binary of an IPv6 string (plain IPv4 maps to ::ffff:a.b.c.d), NULL when invalid",
      one(e => graft.functions.Ipv6Parse(Cast(e, StringType), acceptIpv4 = true))),
    ("IPv6StringToNumOrDefault", "IPv6StringToNumOrDefault(s) - 16-byte binary of an IPv6 string, the 16 zero bytes (::) when a non-null input is invalid (NULL stays NULL)",
      es => { require(es.length == 1, "IPv6StringToNumOrDefault(s)")
        val s = Cast(es.head, StringType)
        If(IsNull(s), Literal.create(null, BinaryType),
          Coalesce(Seq(graft.functions.Ipv6Parse(s, acceptIpv4 = true),
            Literal(new Array[Byte](16))))) }),
    ("toIPv6", "toIPv6(s) - the address as its 16-byte binary (the engine's IPv6 representation; plain IPv4 maps to ::ffff:a.b.c.d), ERROR when invalid",
      es => { require(es.length == 1, "toIPv6(s)")
        val s = Cast(es.head, StringType)
        val v = graft.functions.Ipv6Parse(s, acceptIpv4 = true)
        If(And(IsNotNull(s), IsNull(v)),
          Cast(RaiseError(Concat(Seq(
            Literal("toIPv6: invalid IPv6 address '"),
            s, Literal("'")))), BinaryType), v) }),
    ("toIPv6OrNull", "toIPv6OrNull(s) - the address as its 16-byte binary, NULL when invalid",
      one(e => graft.functions.Ipv6Parse(Cast(e, StringType), acceptIpv4 = true))),
    ("IPv6CIDRToRange", "IPv6CIDRToRange(addr, prefix) - tuple (col1, col2) of the lowest and highest 16-byte binary addresses in the /prefix block containing addr (prefix 0..128 enforced; the IPv4CIDRToRange shape)",
      es => {
        require(es.length == 2, "IPv6CIDRToRange(addr, prefix)")
        val a = Cast(es.head, BinaryType)
        val p = Cast(es(1), IntegerType)
        CreateNamedStruct(Seq(
          Literal("col1"), graft.functions.Ipv6CidrBound(a, p, high = false),
          Literal("col2"), graft.functions.Ipv6CidrBound(a, p, high = true)))
      }),
    ("isIPAddressInRange", "isIPAddressInRange(addr, 'net/prefix') - CIDR containment for both families (family mixing is false, per the docs' isIPAddressInRange('127.0.0.1', 'ffff::/16') = 0; a malformed ADDRESS is false — it is not in the range; a malformed CIDR is an ERROR, the range is the query's own constant)",
      es => { require(es.length == 2, "isIPAddressInRange(addr, cidr)")
        graft.functions.IpInRange(Cast(es.head, StringType),
          Cast(es(1), StringType)) }),
    // ---------------- misc r14 batch: gaps a migrating query hits as
    // loud undefined-function errors (gcd/lcm have no Spark
    // counterpart) or as ORDER-convention gaps (arrayUnion is variadic
    // in ClickHouse; result order is unspecified there, STATED here as
    // first-occurrence across the concatenated arguments — Spark's own
    // array_union rule). greatest/least are NOT here: Spark owns those
    // names, so the NULL-semantics divergence rides a textual rename
    // (graft_ch_greatest below, the dateDiff/position precedent).
    ("gcd", "gcd(a, b) - greatest common divisor, non-negative (Euclid on absolute values; gcd(0, 0) = 0, stated; abs(Int64.min) is a loud overflow error)",
      es => { require(es.length == 2, "gcd(a, b)")
        graft.functions.Gcd(Cast(es.head, LongType), Cast(es(1), LongType)) }),
    ("lcm", "lcm(a, b) - least common multiple, non-negative (lcm(x, 0) = 0; overflow is a loud error, never a silent wrap - stated, ClickHouse wraps)",
      es => { require(es.length == 2, "lcm(a, b)")
        graft.functions.Lcm(Cast(es.head, LongType), Cast(es(1), LongType)) }),
    ("arrayUnion", "arrayUnion(arr1, arr2, ...) - distinct union of all arguments; element order STATED as first occurrence across the concatenated arguments (ClickHouse leaves it unspecified)",
      es => { require(es.length >= 2, "arrayUnion(arr1, arr2, ...)")
        es.reduceLeft((a, b) => ArrayUnion(a, b)) }),
    ("startsWithUTF8", "startsWithUTF8(s, prefix) - true when s starts with prefix (affix equality is identical under byte and code-point comparison, so this is exactly startsWith)",
      es => { require(es.length == 2, "startsWithUTF8(s, prefix)")
        StartsWith(Cast(es.head, StringType), Cast(es(1), StringType)) }),
    ("endsWithUTF8", "endsWithUTF8(s, suffix) - true when s ends with suffix (exactly endsWith; see startsWithUTF8)",
      es => { require(es.length == 2, "endsWithUTF8(s, suffix)")
        EndsWith(Cast(es.head, StringType), Cast(es(1), StringType)) }),
    ("multiSearchAllPositions", "multiSearchAllPositions(haystack, [needles]) - array of each needle's first occurrence as a 1-based BYTE position (the bare-position convention), 0 for a needle not found",
      es => { require(es.length == 2, "multiSearchAllPositions(haystack, [needles])")
        val h = Cast(es.head, StringType)
        ArrayTransform(es(1), lam1(n => chBytePos(h, n))) }),
    ("multiSearchFirstPosition", "multiSearchFirstPosition(haystack, [needles]) - the leftmost 1-based BYTE offset at which ANY needle occurs, 0 when none does",
      es => { require(es.length == 2, "multiSearchFirstPosition(haystack, [needles])")
        val h = Cast(es.head, StringType)
        val pos = ArrayTransform(es(1), lam1(n => chBytePos(h, n)))
        val nz = ArrayFilter(pos, lam1(p => GreaterThan(p, Literal(0))))
        If(EqualTo(new Size(nz), Literal(0)), Literal(0), ArrayMin(nz)) }),
    // ---------------- the rounding family (r14): documented bucket
    // tables and floor rules, mapped exactly. roundToExp2 uses the
    // EXACT bit kernel (highestOneBit), not a float log2 whose
    // boundaries can misround; fractional input truncates toward zero
    // through the Int64 cast (stated — ClickHouse's float behavior is
    // per-type and undocumented).
    ("roundToExp2", "roundToExp2(x) - rounds DOWN to the nearest power of two; below 1 returns 0 (exact bit arithmetic; fractional input truncates toward zero, stated)",
      one(e => { val x = Cast(e, LongType)
        If(LessThan(x, Literal(1L)), Literal(0L),
          org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
            classOf[java.lang.Long], LongType, "highestOneBit",
            Seq(x), Seq(LongType), returnNullable = false)) })),
    ("roundDown", "roundDown(x, arr) - rounds DOWN to the largest array element <= x; below every element returns the array's smallest (the documented lowest-bound rule); NULL x propagates",
      es => { require(es.length == 2, "roundDown(x, arr)")
        val x = es.head
        val le = ArrayFilter(es(1), lam1(el => LessThanOrEqual(el, x)))
        // the NULL guard: a null x makes the filter drop everything and
        // the lowest-bound rule would silently fire instead of NULL
        If(IsNull(x), Literal.create(null, NullType),
          If(EqualTo(new Size(le), Literal(0)), ArrayMin(es(1)), ArrayMax(le))) }),
    ("roundDuration", "roundDuration(x) - floors into the documented duration set {1,10,30,60,120,180,240,300,600,1200,1800,3600,7200,18000,36000}; below 1 returns 0; NULL propagates",
      one(e => { val x = Cast(e, LongType)
        val set = Seq(36000L, 18000L, 7200L, 3600L, 1800L, 1200L, 600L,
          300L, 240L, 180L, 120L, 60L, 30L, 10L, 1L)
        // NULL guard: every CaseWhen branch is null for a null x and the
        // ELSE 0 would fire — ClickHouse's ordinary functions propagate.
        If(IsNull(x), Literal.create(null, LongType),
          CaseWhen(set.map(b =>
            (GreaterThanOrEqual(x, Literal(b)), Literal(b): Expression)),
            Literal(0L))) })),
    ("roundAge", "roundAge(x) - the documented age buckets: <1 -> 0, 1-17 -> 17, 18-24 -> 18, 25-34 -> 25, 35-44 -> 35, 45-54 -> 45, 55+ -> 55; NULL propagates",
      one(e => { val x = Cast(e, LongType)
        If(IsNull(x), Literal.create(null, LongType),
          CaseWhen(Seq(
            (GreaterThanOrEqual(x, Literal(55L)), Literal(55L): Expression),
            (GreaterThanOrEqual(x, Literal(45L)), Literal(45L)),
            (GreaterThanOrEqual(x, Literal(35L)), Literal(35L)),
            (GreaterThanOrEqual(x, Literal(25L)), Literal(25L)),
            (GreaterThanOrEqual(x, Literal(18L)), Literal(18L)),
            (GreaterThanOrEqual(x, Literal(1L)), Literal(17L))),
            Literal(0L))) })),
    ("graft_ch_greatest", "graft_ch_greatest(a, b, ...) - ClickHouse greatest: the largest argument, NULL when ANY argument is NULL (Spark's own greatest SKIPS nulls — the dialect's textual rename exists for exactly this silent divergence)",
      es => { require(es.length >= 2, "greatest(a, b, ...)")
        If(es.map(IsNull(_): Expression).reduce(Or),
          Literal.create(null, NullType), Greatest(es)) }),
    ("graft_ch_least", "graft_ch_least(a, b, ...) - ClickHouse least: the smallest argument, NULL when ANY argument is NULL (see graft_ch_greatest)",
      es => { require(es.length >= 2, "least(a, b, ...)")
        If(es.map(IsNull(_): Expression).reduce(Or),
          Literal.create(null, NullType), Least(es)) }),
    ("isIPv6String", "isIPv6String(s) - true when s is a valid IPv6 string, NULL propagates; STRICT: a plain dotted-quad IPv4 is NOT an IPv6 string (ClickHouse documents isIPv6String('127.0.0.1') = 0)",
      one(e => { val s = Cast(e, StringType)
        // NULL in -> NULL out (IsNotNull alone would read false), the
        // isIPv4String RLike convention.
        If(IsNull(s), Literal.create(null, BooleanType),
          IsNotNull(graft.functions.Ipv6Parse(s, acceptIpv4 = false))) })),
    // ---------------- date arithmetic (r11)
    ("toMonday", "toMonday(x) - the Monday of x's week, as DATE (exactly Spark trunc('week'))",
      one(e => TruncDate(Cast(e, DateType), Literal("WEEK")))),
    ("toLastDayOfMonth", "toLastDayOfMonth(x) - last day of x's month, as DATE",
      one(e => LastDay(Cast(e, DateType)))),
    ("toQuarter", "toQuarter(x) - quarter 1-4", one(e => Quarter(Cast(e, DateType)))),
    ("toDayOfYear", "toDayOfYear(x) - day of year 1-366",
      one(e => DayOfYear(Cast(e, DateType)))),
    ("toDayOfWeek", "toDayOfWeek(x[, mode]) - day of week; mode 0 (default): Mon=1..Sun=7, 1: Mon=0..Sun=6, 2: Sun=0..Sat=6, 3: Sun=1..Sat=7",
      es => {
        def dd(e: Expression) = Cast(e, DateType)
        es match {
          case Seq(d) => Add(WeekDay(dd(d)), Literal(1))
          case Seq(d, Literal(m: Int, IntegerType)) if m >= 0 && m <= 3 => m match {
            case 0 => Add(WeekDay(dd(d)), Literal(1))
            case 1 => WeekDay(dd(d))
            // ClickHouse's mode table: 2 = week starts Sunday, 0-based
            // (Sun=0..Sat=6); 3 = week starts Sunday, 1-based
            // (Sun=1..Sat=7). Spark's DayOfWeek is Sun=1..Sat=7.
            case 2 => Subtract(DayOfWeek(dd(d)), Literal(1))
            case 3 => DayOfWeek(dd(d))
          }
          case _ => throw new IllegalArgumentException(
            "toDayOfWeek(x[, mode]) - mode must be an integer literal 0-3 " +
              "(timezone argument not supported)")
        }
      }),
    // toInterval* — ClickHouse's interval constructors, onto the stock
    // make-interval expressions (day-time for sub-month units, ANSI
    // year-month for month and coarser — the two Spark interval kinds).
    chInterval("toIntervalSecond", n => MakeDTInterval(Literal(0), Literal(0), Literal(0), Cast(n, DecimalType(18, 6)))),
    chInterval("toIntervalMinute", n => MakeDTInterval(Literal(0), Literal(0), Cast(n, IntegerType), Literal(Decimal(0, 18, 6), DecimalType(18, 6)))),
    chInterval("toIntervalHour", n => MakeDTInterval(Literal(0), Cast(n, IntegerType), Literal(0), Literal(Decimal(0, 18, 6), DecimalType(18, 6)))),
    chInterval("toIntervalDay", n => MakeDTInterval(Cast(n, IntegerType), Literal(0), Literal(0), Literal(Decimal(0, 18, 6), DecimalType(18, 6)))),
    chInterval("toIntervalWeek", n => MakeDTInterval(Cast(Multiply(n, Literal(7)), IntegerType), Literal(0), Literal(0), Literal(Decimal(0, 18, 6), DecimalType(18, 6)))),
    chInterval("toIntervalMonth", n => MakeYMInterval(Literal(0), Cast(n, IntegerType))),
    chInterval("toIntervalQuarter", n => MakeYMInterval(Literal(0), Cast(Multiply(n, Literal(3)), IntegerType))),
    chInterval("toIntervalYear", n => MakeYMInterval(Cast(n, IntegerType), Literal(0))),
    chAddUnit("addYears", "YEAR", neg = false),
    chAddUnit("addQuarters", "QUARTER", neg = false),
    chAddUnit("addMonths", "MONTH", neg = false),
    chAddUnit("addWeeks", "WEEK", neg = false),
    chAddUnit("addDays", "DAY", neg = false),
    chAddUnit("addHours", "HOUR", neg = false),
    chAddUnit("addMinutes", "MINUTE", neg = false),
    chAddUnit("addSeconds", "SECOND", neg = false),
    chAddUnit("subtractYears", "YEAR", neg = true),
    chAddUnit("subtractQuarters", "QUARTER", neg = true),
    chAddUnit("subtractMonths", "MONTH", neg = true),
    chAddUnit("subtractWeeks", "WEEK", neg = true),
    chAddUnit("subtractDays", "DAY", neg = true),
    chAddUnit("subtractHours", "HOUR", neg = true),
    chAddUnit("subtractMinutes", "MINUTE", neg = true),
    chAddUnit("subtractSeconds", "SECOND", neg = true),
    chRelativeNum("toRelativeDayNum", 86400000000L, "days"),
    chRelativeNum("toRelativeHourNum", 3600000000L, "hours"),
    chRelativeNum("toRelativeMinuteNum", 60000000L, "minutes"),
    chRelativeNum("toRelativeSecondNum", 1000000L, "seconds"),
    ("toDate32", "toDate32(x) - cast to DATE", cast(DateType)),
    ("toDateTime64", "toDateTime64(x[, precision]) - cast to TIMESTAMP (micros; a literal precision 0-6 is accepted and absorbed)",
      es => es match {
        case Seq(x) => Cast(x, TimestampType)
        case Seq(x, Literal(p: Int, IntegerType)) if p >= 0 && p <= 6 =>
          Cast(x, TimestampType)
        case _ => throw new IllegalArgumentException(
          "toDateTime64(x[, precision]) - precision must be an integer " +
            "literal 0-6 (Spark timestamps are microsecond; nanosecond " +
            "precision cannot be represented)")
      }),
    // ---------------- arithmetic (r11)
    ("roundBankers", "roundBankers(x[, n]) - half-even rounding (exactly Spark bround)",
      es => es match {
        case Seq(x) => BRound(x, Literal(0))
        case Seq(x, n) => BRound(x, n)
        case _ => throw new IllegalArgumentException("roundBankers(x[, n])")
      }),
    ("intDivOrZero", "intDivOrZero(a, b) - intDiv, but 0 when b = 0",
      es => { require(es.length == 2, "intDivOrZero(a, b)")
        If(EqualTo(es(1), Literal(0)), Literal(0L),
          IntegralDivide(es.head, es(1))) }),
    ("moduloOrZero", "moduloOrZero(a, b) - remainder, but 0 when b = 0",
      es => { require(es.length == 2, "moduloOrZero(a, b)")
        If(EqualTo(es(1), Literal(0)), Subtract(es.head, es.head),
          Remainder(es.head, es(1))) }),
    ("plus", "plus(a, b)", es => { require(es.length == 2, "plus(a, b)")
      Add(es.head, es(1)) }),
    ("minus", "minus(a, b)", es => { require(es.length == 2, "minus(a, b)")
      Subtract(es.head, es(1)) }),
    ("multiply", "multiply(a, b)", es => { require(es.length == 2, "multiply(a, b)")
      Multiply(es.head, es(1)) }),
    ("divide", "divide(a, b) - Float64 division with ClickHouse's IEEE zero-divisor results: x/0 = +-Inf, 0/0 = NaN (never an error)",
      es => { require(es.length == 2, "divide(a, b)")
        val (ld, rd) = (Cast(es.head, DoubleType), Cast(es(1), DoubleType))
        If(EqualTo(rd, Literal(0.0d)),
          If(EqualTo(ld, Literal(0.0d)), Literal(Double.NaN),
            If(GreaterThan(ld, Literal(0.0d)),
              Literal(Double.PositiveInfinity),
              Literal(Double.NegativeInfinity))),
          Divide(ld, rd, EvalMode.LEGACY)) }),
    ("negate", "negate(a)", one(e => UnaryMinus(e))),
    ("exp2", "exp2(x) - 2^x as DOUBLE", one(e => Pow(Literal(2.0d), e))),
    ("exp10", "exp10(x) - 10^x as DOUBLE", one(e => Pow(Literal(10.0d), e))),
    ("intExp2", "intExp2(n) - 2^n as BIGINT",
      one(e => ShiftLeft(Literal(1L), Cast(e, IntegerType)))),
    ("isFinite", "isFinite(x) - true when x is neither NaN nor infinite",
      one(e => And(Not(IsNaN(Cast(e, DoubleType))),
        LessThan(Abs(Cast(e, DoubleType)), Literal(Double.PositiveInfinity))))),
    ("isInfinite", "isInfinite(x) - true when x is +-Inf",
      one(e => EqualTo(Abs(Cast(e, DoubleType)), Literal(Double.PositiveInfinity)))),
    ("toNullable", "toNullable(x) - x unchanged (nullability is not load-bearing here)",
      es => { require(es.length == 1, "toNullable(x)"); es.head }),
    // ---------------- aggregates (r11). camelCase spellings of the
    // stock moments/stats family, plus the exact compositions ClickHouse
    // ships as dedicated aggregates. skewSamp/kurtSamp stay unmapped:
    // ClickHouse's docs do not pin which moments take the n-1 divisor,
    // and guessing would be the silent divergence this layer forbids.
    ("avgWeighted", "avgWeighted(x, w) - sum(x*w)/sum(w) as DOUBLE (NULL on zero weight; ClickHouse returns NaN)",
      es => { require(es.length == 2, "avgWeighted(x, w)")
        Divide(
          Sum(Multiply(Cast(es.head, DoubleType), Cast(es(1), DoubleType)))
            .toAggregateExpression(),
          Sum(Cast(es(1), DoubleType)).toAggregateExpression()) }),
    ("sumCount", "sumCount(x) - struct(sum, count) over non-null x",
      es => { require(es.length == 1, "sumCount(x)")
        CreateNamedStruct(Seq(
          Literal("sum"), Sum(es.head).toAggregateExpression(),
          Literal("count"), Count(Seq(es.head)).toAggregateExpression())) }),
    ("countDistinct", "countDistinct(x, ...) - exact distinct count (alias of uniqExact)",
      es => { require(es.nonEmpty, "countDistinct(x, ...)")
        Count(es).toAggregateExpression(isDistinct = true) }),
    ("stddevPop", "stddevPop(x) - population standard deviation",
      one(e => new StddevPop(Cast(e, DoubleType)).toAggregateExpression())),
    ("stddevSamp", "stddevSamp(x) - sample standard deviation",
      one(e => new StddevSamp(Cast(e, DoubleType)).toAggregateExpression())),
    ("varPop", "varPop(x) - population variance",
      one(e => new VariancePop(Cast(e, DoubleType)).toAggregateExpression())),
    ("varSamp", "varSamp(x) - sample variance",
      one(e => new VarianceSamp(Cast(e, DoubleType)).toAggregateExpression())),
    ("covarPop", "covarPop(x, y) - population covariance",
      es => { require(es.length == 2, "covarPop(x, y)")
        new CovPopulation(Cast(es.head, DoubleType), Cast(es(1), DoubleType))
          .toAggregateExpression() }),
    ("covarSamp", "covarSamp(x, y) - sample covariance",
      es => { require(es.length == 2, "covarSamp(x, y)")
        new CovSample(Cast(es.head, DoubleType), Cast(es(1), DoubleType))
          .toAggregateExpression() }),
    ("skewPop", "skewPop(x) - population skewness m3/m2^1.5 (exactly Spark skewness)",
      one(e => new Skewness(Cast(e, DoubleType)).toAggregateExpression())),
    ("kurtPop", "kurtPop(x) - population kurtosis m4/m2^2 (Spark kurtosis is the EXCESS form; +3 restores ClickHouse's)",
      one(e => Add(new Kurtosis(Cast(e, DoubleType)).toAggregateExpression(),
        Literal(3.0d)))),
    ("simpleLinearRegression", "simpleLinearRegression(x, y) - struct(k, b) of the least-squares fit y = k*x + b",
      es => { require(es.length == 2, "simpleLinearRegression(x, y)")
        val (x, y) = (Cast(es.head, DoubleType), Cast(es(1), DoubleType))
        CreateNamedStruct(Seq(
          Literal("k"), RegrSlope(y, x).toAggregateExpression(),
          Literal("b"), RegrIntercept(y, x).toAggregateExpression())) }),
    ("boundingRatio", "boundingRatio(x, y) - slope between the min-x and max-x points: (y@max_x - y@min_x)/(max_x - min_x); ties on x resolve to the extremal y (stated contract - the argMax/argMin tie rule)",
      es => { require(es.length == 2, "boundingRatio(x, y)")
        val (x, y) = (es.head, Cast(es(1), DoubleType))
        Divide(
          Subtract(MaxBy(y, CreateStruct(Seq(x, y))).toAggregateExpression(),
            MinBy(y, CreateStruct(Seq(x, y))).toAggregateExpression()),
          Subtract(Max(Cast(x, DoubleType)).toAggregateExpression(),
            Min(Cast(x, DoubleType)).toAggregateExpression())) }),
    ("graft_ch_quantile_exact_weighted",
      "graft_ch_quantile_exact_weighted(x, w, level) - ClickHouse quantileExactWeighted: first sorted value whose cumulative weight reaches level*sum(w)",
      es => { require(es.length == 3, "graft_ch_quantile_exact_weighted(x, w, level)")
        quantileExactWeightedElement(es(0), es(1), es(2)) }),
    // ---------------- array calculus (r11). arraySum/arrayCumSum share
    // the Int64-accumulator discipline (usage notes say cast float
    // arrays to Int64-scaled micros first — the engine-wide integer-
    // micro exactness rule); arrayProduct is Float64 ALWAYS, exactly
    // ClickHouse's declared return type.
    ("arrayDistinct", "arrayDistinct(arr) - distinct elements, first-seen order",
      one(e => ArrayDistinct(e))),
    ("arrayReverse", "arrayReverse(arr) - elements in reverse order",
      one(e => Reverse(e))),
    ("arraySum", "arraySum(arr) - Int64 sum of an integral array (scale floats to integer micros first)",
      es => { require(es.length == 1, "arraySum(arr)")
        arrayFold(es.head, Literal(0L), (st, e2) => Add(st, Cast(e2, LongType))) }),
    ("arrayAvg", "arrayAvg(arr) - mean as DOUBLE (NULL on an empty array; ClickHouse returns NaN)",
      es => { require(es.length == 1, "arrayAvg(arr)")
        Divide(
          arrayFold(es.head, Literal(0.0d),
            (st, e2) => Add(st, Cast(e2, DoubleType))),
          Cast(new Size(es.head), DoubleType)) }),
    ("arrayProduct", "arrayProduct(arr) - product as DOUBLE (ClickHouse's declared Float64 return)",
      es => { require(es.length == 1, "arrayProduct(arr)")
        arrayFold(es.head, Literal(1.0d),
          (st, e2) => Multiply(st, Cast(e2, DoubleType))) }),
    ("arrayFirst", "arrayFirst(func, arr) - first element where func is true (NULL when none; ClickHouse returns the type default)",
      chSearchFold("arrayFirst", keepFirst = true)),
    ("arrayLast", "arrayLast(func, arr) - last element where func is true (NULL when none; ClickHouse returns the type default)",
      chSearchFold("arrayLast", keepFirst = false)),
    ("arrayFirstIndex", "arrayFirstIndex(func, arr) - 1-based index of the first element where func is true, 0 when none",
      chIndexFold("arrayFirstIndex", keepFirst = true)),
    ("arrayLastIndex", "arrayLastIndex(func, arr) - 1-based index of the last element where func is true, 0 when none",
      chIndexFold("arrayLastIndex", keepFirst = false)),
    ("arrayCompact", "arrayCompact(arr) - adjacent duplicates collapsed (null-safe comparison)",
      es => { require(es.length == 1, "arrayCompact(arr)")
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
        val i = UnresolvedNamedLambdaVariable(Seq("__graft_i"))
        ArrayFilter(es.head, LambdaFunction(
          Or(EqualTo(i, Literal(0)),
            Not(EqualNullSafe(x, GetArrayItem(es.head, Subtract(i, Literal(1)))))),
          Seq(x, i))) }),
    ("arrayWithConstant", "arrayWithConstant(n, x) - array of n copies of x",
      es => { require(es.length == 2, "arrayWithConstant(n, x)")
        ArrayRepeat(es(1), es.head) }),
    ("arrayPushBack", "arrayPushBack(arr, x) - arr with x appended",
      es => { require(es.length == 2, "arrayPushBack(arr, x)")
        Concat(Seq(es.head, CreateArray(Seq(es(1))))) }),
    ("arrayPushFront", "arrayPushFront(arr, x) - arr with x prepended",
      es => { require(es.length == 2, "arrayPushFront(arr, x)")
        Concat(Seq(CreateArray(Seq(es(1))), es.head)) }),
    ("arrayPopBack", "arrayPopBack(arr) - arr without its last element",
      es => { require(es.length == 1, "arrayPopBack(arr)")
        Slice(es.head, Literal(1),
          Greatest(Seq(Subtract(new Size(es.head), Literal(1)), Literal(0)))) }),
    ("arrayPopFront", "arrayPopFront(arr) - arr without its first element",
      es => { require(es.length == 1, "arrayPopFront(arr)")
        Slice(es.head, Literal(2),
          Greatest(Seq(Subtract(new Size(es.head), Literal(1)), Literal(0)))) }),
    ("arrayEnumerate", "arrayEnumerate(arr) - [1, 2, ..., length(arr)]",
      es => { require(es.length == 1, "arrayEnumerate(arr)")
        val sz = new Size(es.head)
        If(EqualTo(sz, Literal(0)),
          Cast(CreateArray(Nil), ArrayType(IntegerType)),
          new Sequence(Literal(1), sz, None)) }),
    ("range", "range(n) or range(start, end[, step]) - [start, start+step, ...) with EXCLUSIVE end (ClickHouse's convention; Spark's sequence is inclusive)",
      es => {
        def empty = Cast(CreateArray(Nil), ArrayType(LongType))
        def rng(a: Expression, b: Expression, s: Option[Expression]) = {
          val (aa, bb) = (Cast(a, LongType), Cast(b, LongType))
          If(GreaterThanOrEqual(aa, bb), empty,
            new Sequence(aa, Subtract(bb, Literal(1L)),
              s.map(Cast(_, LongType))))
        }
        es match {
          case Seq(n) => rng(Literal(0L), n, None)
          case Seq(a, b) => rng(a, b, None)
          case Seq(a, b, s) => rng(a, b, Some(s))
          case _ => throw new IllegalArgumentException(
            "range(n) or range(start, end[, step])")
        }
      }),
    // ---------------- maps / tuples / misc (r11 batch 3)
    ("mapKeys", "mapKeys(m) - the map's keys as an array",
      one(MapKeys)),
    ("mapValues", "mapValues(m) - the map's values as an array",
      one(MapValues)),
    ("mapContains", "mapContains(m, k) - true when the map has the key",
      es => { require(es.length == 2, "mapContains(m, k)")
        MapContainsKey(es.head, es(1)) }),
    ("tupleElement", "tupleElement(t, n_or_name) - the tuple's n-th (1-based literal) or named field",
      es => { require(es.length == 2, "tupleElement(t, n_or_name)")
        es(1) match {
          case Literal(i: Int, IntegerType) if i >= 1 =>
            UnresolvedExtractValue(es.head, Literal(s"col$i"))
          case Literal(s, StringType) if s != null =>
            UnresolvedExtractValue(es.head, Literal(s.toString))
          case other => throw new IllegalArgumentException(
            s"tupleElement: the selector must be a positive integer or string literal, got $other")
        } }),
    ("splitByRegexp", "splitByRegexp(regexp, s) - split on a regexp (ClickHouse argument order; Java regex accepts the common RE2 surface)",
      es => { require(es.length == 2, "splitByRegexp(regexp, s)")
        StringSplit(es(1), es.head, Literal(-1)) }),
    ("ifNotFinite", "ifNotFinite(x, alt) - x when finite, alt otherwise",
      es => { require(es.length == 2, "ifNotFinite(x, alt)")
        val d = Cast(es.head, DoubleType)
        If(And(Not(IsNaN(d)), LessThan(Abs(d), Literal(Double.PositiveInfinity))),
          es.head, es(1)) }),
    // lagInFrame/leadInFrame → stock lag/lead. ClickHouse's forms consult
    // the window FRAME (a row outside the frame yields the default);
    // Spark's lag/lead read the whole partition. Identical whenever the
    // frame covers the offset row — the overwhelmingly common
    // ROWS UNBOUNDED PRECEDING usage — and a documented divergence when
    // a narrower explicit frame excludes it.
    ("lagInFrame", "lagInFrame(x[, n[, default]]) - value n rows back in the partition (the frame clause is NOT consulted, unlike ClickHouse; identical when the frame covers the offset row)",
      es => es match {
        case Seq(x) => new Lag(x)
        case Seq(x, n) => new Lag(x, n, Literal(null))
        case Seq(x, n, d) => new Lag(x, n, d)
        case _ => throw new IllegalArgumentException("lagInFrame(x[, n[, default]])")
      }),
    ("leadInFrame", "leadInFrame(x[, n[, default]]) - value n rows ahead in the partition (the frame clause is NOT consulted, unlike ClickHouse; identical when the frame covers the offset row)",
      es => es match {
        case Seq(x) => new Lead(x)
        case Seq(x, n) => new Lead(x, n, Literal(null))
        case Seq(x, n, d) => new Lead(x, n, d)
        case _ => throw new IllegalArgumentException("leadInFrame(x[, n[, default]])")
      }),
    ("arrayReduce", "arrayReduce('agg', arr) - fold the array with a literal aggregate name: sum (Int64), min, max, avg, count, uniqExact",
      es => {
        require(es.length == 2, "arrayReduce('agg', arr)")
        val agg = es.head match {
          case Literal(s, StringType) if s != null => s.toString.toLowerCase
          case other => throw new IllegalArgumentException(
            s"arrayReduce: the aggregate must be a string literal, got $other")
        }
        val arr = es(1)
        agg match {
          case "sum" => arrayFold(arr, Literal(0L),
            (st, e) => Add(st, Cast(e, LongType)))
          case "min" => new ArrayMin(arr)
          case "max" => new ArrayMax(arr)
          case "avg" => Divide(
            arrayFold(arr, Literal(0.0d), (st, e) => Add(st, Cast(e, DoubleType))),
            Cast(new Size(arr), DoubleType))
          case "count" => Cast(new Size(arr), LongType)
          case "uniqexact" => Cast(new Size(ArrayDistinct(arr)), LongType)
          case other => throw new IllegalArgumentException(
            s"arrayReduce: unsupported aggregate '$other' — sum/min/max/avg/count/uniqExact")
        }
      }),
    ("arrayEnumerateUniq", "arrayEnumerateUniq(arr) - per element, the 1-based occurrence count of its value so far (O(n^2) per array; fine for per-row arrays)",
      es => { require(es.length == 1, "arrayEnumerateUniq(arr)")
        val arr = es.head
        val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
        val i = UnresolvedNamedLambdaVariable(Seq("__graft_i"))
        val y = UnresolvedNamedLambdaVariable(Seq("__graft_y"))
        ArrayTransform(arr, LambdaFunction(
          new Size(ArrayFilter(
            Slice(arr, Literal(1), Add(i, Literal(1))),
            LambdaFunction(EqualNullSafe(y, x), Seq(y)))),
          Seq(x, i))) }),
    // `monthName` is deliberately NOT mapped: Spark 4 ships its own
    // `monthname` (THREE-LETTER 'Sep') and the no-clobber rule keeps it
    // — a ported query calling monthName gets the abbreviation, not
    // ClickHouse's full 'September'. Use dateName('month', d) for the
    // full-name form; same for dayname vs dateName('weekday', d).
    ("dateName", "dateName('unit', d) - the named part as a string: year, quarter, month (FULL name - Spark's own monthname() is the 3-letter form), day, weekday (full name)",
      es => {
        require(es.length == 2, "dateName('unit', d)")
        val unit = es.head match {
          case Literal(s, StringType) if s != null => s.toString.toLowerCase
          case other => throw new IllegalArgumentException(
            s"dateName: the unit must be a string literal, got $other")
        }
        val d = es(1)
        unit match {
          case "year" => Cast(Year(d), StringType)
          case "quarter" => Cast(Quarter(Cast(d, DateType)), StringType)
          case "month" => new DateFormatClass(Cast(d, TimestampType), Literal("MMMM"))
          case "day" => Cast(DayOfMonth(d), StringType)
          case "weekday" => new DateFormatClass(Cast(d, TimestampType), Literal("EEEE"))
          case other => throw new IllegalArgumentException(
            s"dateName: unsupported unit '$other' — year/quarter/month/day/weekday")
        }
      }),
    ("toYYYYMMDDhhmmss", "toYYYYMMDDhhmmss(ts) - yyyyMMddHHmmss as BIGINT",
      one(e => Cast(new DateFormatClass(Cast(e, TimestampType),
        Literal("yyyyMMddHHmmss")), LongType))),
    // ---------------- r11 batch 4: URL tail, percent-coding, tokens,
    // string/bit camelCase aliases, sub-hour bucketing shortcuts.
    ("topLevelDomain", "topLevelDomain(url) - the host's last dot-label, '' when the host has no dot or cannot be parsed",
      es => { require(es.length == 1, "topLevelDomain(url)")
        val host = Coalesce(Seq(ParseUrl(Seq(Cast(es.head, StringType),
          Literal("HOST")), failOnError = false), Literal("")))
        RegExpExtract(host, Literal("\\.([^.]+)$"), Literal(1)) }),
    ("port", "port(url[, default]) - the port number, default (0) when absent",
      es => { require(es.length == 1 || es.length == 2, "port(url[, default])")
        val auth = Coalesce(Seq(ParseUrl(Seq(Cast(es.head, StringType),
          Literal("AUTHORITY")), failOnError = false), Literal("")))
        val p = RegExpExtract(auth, Literal(":([0-9]+)$"), Literal(1))
        val dflt: Expression = if (es.length == 2) es(1) else Literal(0)
        If(EqualTo(p, Literal("")), dflt, Cast(p, IntegerType)) }),
    // ClickHouse percent-codes spaces as %20 both ways; Spark's
    // url_encode/url_decode speak form-encoding where space <-> '+'.
    // The composed replacements make the pairing exact: encode swaps the
    // produced '+' for %20, decode protects a literal '+' from becoming
    // a space.
    ("encodeURLComponent", "encodeURLComponent(s) - percent-encode (space = %20, as ClickHouse)",
      es => { require(es.length == 1, "encodeURLComponent(s)")
        StringReplace(UrlEncode(Cast(es.head, StringType)),
          Literal("+"), Literal("%20")) }),
    ("decodeURLComponent", "decodeURLComponent(s) - percent-decode (a literal '+' stays '+', as ClickHouse)",
      es => { require(es.length == 1, "decodeURLComponent(s)")
        new UrlDecode(StringReplace(Cast(es.head, StringType),
          Literal("+"), Literal("%2B"))) }),
    ("tokens", "tokens(s) - maximal alphanumeric runs (the ClickHouse default tokenizer), empties dropped",
      es => { require(es.length == 1, "tokens(s)")
        ArrayFilter(
          StringSplit(es.head, Literal("[^\\p{L}\\p{N}]+"), Literal(-1)),
          lam1(x => GreaterThan(Length(x), Literal(0)))) }),
    ("substringIndex", "substringIndex(s, delim, count) - camelCase of the stock substring_index",
      es => { require(es.length == 3, "substringIndex(s, delim, count)")
        SubstringIndex(es(0), es(1), es(2)) }),
    ("reverseUTF8", "reverseUTF8(s) - code-point-aware reverse",
      one(Reverse)),
    ("concatWithSeparator", "concatWithSeparator(sep, a, b, ...) - camelCase of the stock concat_ws",
      es => { require(es.length >= 2, "concatWithSeparator(sep, a, ...)")
        ConcatWs(es) }),
    ("leftUTF8", "leftUTF8(s, n) - first n code points",
      es => { require(es.length == 2, "leftUTF8(s, n)"); Left(es(0), es(1)) }),
    ("rightUTF8", "rightUTF8(s, n) - last n code points",
      es => { require(es.length == 2, "rightUTF8(s, n)"); Right(es(0), es(1)) }),
    ("sigmoid", "sigmoid(x) - 1/(1+exp(-x)) as DOUBLE",
      one(e => Divide(Literal(1.0d),
        Add(Literal(1.0d), Exp(UnaryMinus(Cast(e, DoubleType))))))),
    ("bitCount", "bitCount(n) - number of set bits (camelCase of the stock bit_count)",
      one(e => BitwiseCount(e))),
    ("bitTest", "bitTest(n, i) - bit i of n as 0/1",
      es => { require(es.length == 2, "bitTest(n, i)")
        BitwiseAnd(ShiftRight(es.head, es(1)), Literal(1)) }),
    chStartOfN("toStartOfFiveMinutes", 300000000L, "five-minute"),
    chStartOfN("toStartOfTenMinutes", 600000000L, "ten-minute"),
    chStartOfN("toStartOfFifteenMinutes", 900000000L, "fifteen-minute"),
    // ---------------- r11 batch 5: regex counting/extraction, whitespace
    // split, the median* spellings, exact entropy.
    ("countMatches", "countMatches(haystack, pattern) - non-overlapping regex matches, as BIGINT",
      es => { require(es.length == 2, "countMatches(haystack, pattern)")
        Cast(new Size(RegExpExtractAll(es.head, es(1), Literal(0))), LongType) }),
    ("regexpExtract", "regexpExtract(haystack, pattern[, index]) - the indexed capture group of the first match (0 = whole match; default 1), '' when no match",
      es => es match {
        case Seq(h, p) => RegExpExtract(h, p, Literal(1))
        case Seq(h, p, i) => RegExpExtract(h, p, i)
        case _ => throw new IllegalArgumentException(
          "regexpExtract(haystack, pattern[, index])")
      }),
    ("splitByWhitespace", "splitByWhitespace(s) - non-whitespace runs, empties dropped",
      es => { require(es.length == 1, "splitByWhitespace(s)")
        ArrayFilter(StringSplit(es.head, Literal("\\s+"), Literal(-1)),
          lam1(x => GreaterThan(Length(x), Literal(0)))) }),
    // ---------------- r11 batch 7: cross-row array intersection, the
    // half-hour/second/millisecond time accessors, and array rotation.
    ("groupArrayIntersect", "groupArrayIntersect(arr) - elements present in EVERY row's array (distinct, unspecified order - arraySort for determinism)",
      es => { require(es.length == 1, "groupArrayIntersect(arr)")
        val arrays = CollectList(es.head).toAggregateExpression()
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_st"))
        val e2 = UnresolvedNamedLambdaVariable(Seq("__graft_e"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
        ArrayAggregate(arrays,
          ElementAt(arrays, Literal(1), failOnError = false),
          LambdaFunction(ArrayIntersect(st, e2), Seq(st, e2)),
          LambdaFunction(fin, Seq(fin))) }),
    ("timeSlot", "timeSlot(ts) - floor to the half-hour, as TIMESTAMP",
      one { e =>
        val us = UnixMicros(Cast(e, TimestampType))
        val d = Literal(1800000000L)
        MicrosToTimestamp(Multiply(
          IntegralDivide(Subtract(us, Pmod(us, d)), d), d))
      }),
    ("toStartOfSecond", "toStartOfSecond(ts) - ts with sub-second precision dropped",
      one(e => TruncTimestamp(Literal("SECOND"), Cast(e, TimestampType)))),
    ("toMillisecond", "toMillisecond(ts) - the millisecond component 0-999",
      one(e => Cast(Pmod(UnixMillis(Cast(e, TimestampType)), Literal(1000L)),
        IntegerType))),
    ("arrayRotateLeft", "arrayRotateLeft(arr, n) - rotate left by n (negative n rotates right)",
      es => { require(es.length == 2, "arrayRotateLeft(arr, n)")
        chRotate(es.head, es(1)) }),
    ("arrayRotateRight", "arrayRotateRight(arr, n) - rotate right by n (negative n rotates left)",
      es => { require(es.length == 2, "arrayRotateRight(arr, n)")
        chRotate(es.head, UnaryMinus(es(1))) }),
    // ---------------- r11 batch 6: epoch/decimal conversions, tolerant
    // casts, and the remaining array calculus.
    ("toUnixTimestamp64Milli", "toUnixTimestamp64Milli(ts) - epoch milliseconds, as BIGINT",
      one(e => UnixMillis(Cast(e, TimestampType)))),
    ("toUnixTimestamp64Micro", "toUnixTimestamp64Micro(ts) - epoch microseconds, as BIGINT",
      one(e => UnixMicros(Cast(e, TimestampType)))),
    ("fromUnixTimestamp", "fromUnixTimestamp(n) - TIMESTAMP from epoch seconds (Spark's from_unixtime returns a STRING; this keeps ClickHouse's DateTime)",
      one(e => SecondsToTimestamp(e))),
    ("fromUnixTimestamp64Milli", "fromUnixTimestamp64Milli(n) - TIMESTAMP from epoch milliseconds",
      one(e => MillisToTimestamp(e))),
    ("fromUnixTimestamp64Micro", "fromUnixTimestamp64Micro(n) - TIMESTAMP from epoch microseconds",
      one(e => MicrosToTimestamp(e))),
    ("toDecimal32", "toDecimal32(x, scale) - DECIMAL(9, scale)", chDecimal(9)),
    ("toDecimal64", "toDecimal64(x, scale) - DECIMAL(18, scale)", chDecimal(18)),
    ("toDecimal128", "toDecimal128(x, scale) - DECIMAL(38, scale)", chDecimal(38)),
    ("accurateCastOrNull", "accurateCastOrNull(x, 'T') - cast, NULL when the value does not fit (T: Int64/UInt64/Int32/Float64/String/Date/DateTime/Decimal(p,s))",
      es => {
        require(es.length == 2, "accurateCastOrNull(x, 'T')")
        val tname = es(1) match {
          case Literal(s, StringType) if s != null => s.toString.trim
          case other => throw new IllegalArgumentException(
            s"accurateCastOrNull: the type must be a string literal, got $other")
        }
        val DecRe = "(?i)Decimal\\((\\d+)\\s*,\\s*(\\d+)\\)".r
        val dt: DataType = tname match {
          case DecRe(p, sc) => DecimalType(p.toInt, sc.toInt)
          case t if t.equalsIgnoreCase("Int64") => LongType
          case t if t.equalsIgnoreCase("UInt64") => DecimalType(20, 0)
          case t if t.equalsIgnoreCase("Int32") => IntegerType
          case t if t.equalsIgnoreCase("UInt32") => LongType
          case t if t.equalsIgnoreCase("Float64") => DoubleType
          case t if t.equalsIgnoreCase("Float32") => FloatType
          case t if t.equalsIgnoreCase("String") => StringType
          case t if t.equalsIgnoreCase("Date") => DateType
          case t if t.equalsIgnoreCase("DateTime") => TimestampType
          case other => throw new IllegalArgumentException(
            s"accurateCastOrNull: unsupported type '$other'")
        }
        val tryCast = TryEval(Cast(es.head, dt, None, EvalMode.ANSI))
        // The UInt targets land on wider SIGNED Spark types (UInt64 →
        // Decimal(20,0), UInt32 → BIGINT), so the ANSI cast alone would
        // accept values outside the unsigned range — ClickHouse returns
        // NULL for those, and the usage string promises the same. Guard
        // with the exact unsigned bounds.
        val uintBounds: Option[(Expression, Expression)] =
          if (tname.equalsIgnoreCase("UInt64"))
            Some((Literal(Decimal(BigDecimal(0)), DecimalType(20, 0)),
              Literal(Decimal(BigDecimal("18446744073709551615")),
                DecimalType(20, 0))))
          else if (tname.equalsIgnoreCase("UInt32"))
            Some((Literal(0L), Literal(4294967295L)))
          else None
        uintBounds match {
          case None => tryCast
          case Some((lo, hi)) =>
            If(Or(LessThan(tryCast, lo), GreaterThan(tryCast, hi)),
              Literal.create(null, dt), tryCast)
        }
      }),
    ("countSubstringsCaseInsensitive", "countSubstringsCaseInsensitive(haystack, needle) - case-folded non-overlapping occurrences, as BIGINT",
      es => { require(es.length == 2, "countSubstringsCaseInsensitive(haystack, needle)")
        val (h, n) = (Lower(es.head), Lower(es(1)))
        If(EqualTo(Length(n), Literal(0)), Literal(0L),
          IntegralDivide(
            Subtract(Length(h), Length(StringReplace(h, n, Literal("")))),
            Length(n))) }),
    // arrayFold — ClickHouse's general fold, lambda (acc, x) FIRST: maps
    // 1:1 onto the stock aggregate with an identity finish (the same
    // analyzer rule as arrayFirst: the TOP node must be the HOF, and
    // ArrayAggregate is one).
    ("arrayFold", "arrayFold(func, arr, init) - fold the array left-to-right with func(acc, x)",
      es => {
        require(es.length == 3, "arrayFold(func, arr, init)")
        val l = es.head match {
          case lf: LambdaFunction => lf
          case _ => throw new IllegalArgumentException(
            "arrayFold: the first argument must be a two-variable lambda, " +
              "e.g. arrayFold((acc, x) -> acc + x, arr, 0)")
        }
        require(l.arguments.length == 2, "arrayFold: the lambda takes (acc, x)")
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
        ArrayAggregate(es(1), es(2), l, LambdaFunction(fin, Seq(fin)))
      }),
    ("arrayEnumerateDense", "arrayEnumerateDense(arr) - per element, the 1-based rank of its value by FIRST occurrence (O(n^2) per array; fine for per-row arrays)",
      es => { require(es.length == 1, "arrayEnumerateDense(arr)")
        val arr = es.head
        ArrayTransform(arr, lam1(x =>
          new Size(ArrayDistinct(Slice(arr, Literal(1),
            Cast(ArrayPosition(arr, x), IntegerType)))))) }),
    ("arrayCumSumNonNegative", "arrayCumSumNonNegative(arr) - running Int64 sums, clamped to 0 whenever the running value turns negative (ClickHouse's reset rule)",
      es => {
        require(es.length == 1, "arrayCumSumNonNegative(arr)")
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_st"))
        val e2 = UnresolvedNamedLambdaVariable(Seq("__graft_e"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
        def acc(e: Expression) = UnresolvedExtractValue(e, Literal("acc"))
        def run(e: Expression) = UnresolvedExtractValue(e, Literal("run"))
        val next = Greatest(Seq(Add(run(st), Cast(e2, LongType)), Literal(0L)))
        ArrayAggregate(es.head,
          CreateNamedStruct(Seq(
            Literal("acc"), Cast(CreateArray(Nil), ArrayType(LongType)),
            Literal("run"), Literal(0L))),
          LambdaFunction(
            CreateNamedStruct(Seq(
              Literal("acc"), Concat(Seq(acc(st), CreateArray(Seq(next)))),
              Literal("run"), next)),
            Seq(st, e2)),
          LambdaFunction(acc(fin), Seq(fin)))
      }),
    // ---------------- vector distances (r11) — ClickHouse's embedding
    // workhorses as exact double folds over zipped arrays (the same
    // shapes the engine's ANN ladder composes; here under ClickHouse's
    // names for a ported similarity query). Mismatched lengths follow
    // arrays_zip null-extension into null-poisoned arithmetic (NULL
    // out, where ClickHouse throws — a visible, documented difference).
    ("arrayDotProduct", "arrayDotProduct(a, b) - sum of element products, as DOUBLE",
      es => { require(es.length == 2, "arrayDotProduct(a, b)")
        vecFold(es(0), es(1), (acc, x, y) => Add(acc, Multiply(x, y))) }),
    ("L1Distance", "L1Distance(a, b) - sum of absolute differences, as DOUBLE",
      es => { require(es.length == 2, "L1Distance(a, b)")
        vecFold(es(0), es(1), (acc, x, y) => Add(acc, Abs(Subtract(x, y)))) }),
    ("L2Distance", "L2Distance(a, b) - Euclidean distance, as DOUBLE",
      es => { require(es.length == 2, "L2Distance(a, b)")
        Sqrt(vecFold(es(0), es(1), (acc, x, y) =>
          Add(acc, Multiply(Subtract(x, y), Subtract(x, y))))) }),
    ("L2SquaredDistance", "L2SquaredDistance(a, b) - squared Euclidean distance, as DOUBLE",
      es => { require(es.length == 2, "L2SquaredDistance(a, b)")
        vecFold(es(0), es(1), (acc, x, y) =>
          Add(acc, Multiply(Subtract(x, y), Subtract(x, y)))) }),
    ("LinfDistance", "LinfDistance(a, b) - maximum absolute difference, as DOUBLE",
      es => { require(es.length == 2, "LinfDistance(a, b)")
        vecFold(es(0), es(1), (acc, x, y) =>
          Greatest(Seq(acc, Abs(Subtract(x, y))))) }),
    ("cosineDistance", "cosineDistance(a, b) - 1 - dot/(|a|*|b|), as DOUBLE",
      es => { require(es.length == 2, "cosineDistance(a, b)")
        val dot = vecFold(es(0), es(1), (acc, x, y) => Add(acc, Multiply(x, y)))
        def norm(v: Expression) =
          Sqrt(vecFold(v, v, (acc, x, y) => Add(acc, Multiply(x, y))))
        Subtract(Literal(1.0d),
          Divide(dot, Multiply(norm(es(0)), norm(es(1))))) }),
    ("arrayJaccardIndex", "arrayJaccardIndex(a, b) - |distinct intersection| / |distinct union|, as DOUBLE",
      es => { require(es.length == 2, "arrayJaccardIndex(a, b)")
        Divide(
          Cast(new Size(ArrayIntersect(es(0), es(1))), DoubleType),
          Cast(new Size(ArrayUnion(es(0), es(1))), DoubleType)) }),
    // largestTriangleThreeBuckets — Steinarsson's LTTB downsampling
    // (the dashboard decimation ClickHouse ships), exactly the
    // reference algorithm: sort by x (ties by y — a stated
    // deterministic refinement of ClickHouse's unspecified tie order),
    // keep the first and last points, split the middle into n−2
    // buckets on the reference's floor grid, and from each bucket keep
    // the point maximizing the triangle area against the PREVIOUSLY
    // SELECTED point and the NEXT bucket's average (first maximum wins
    // ties, the reference's `>` rule). Selection is sequential by
    // construction — one outer fold over buckets with an inner fold
    // per candidate range, O(size) total per group after the sort.
    ("graft_ch_lttb", "largestTriangleThreeBuckets(n)(x, y) - LTTB-downsampled array of (col1=x, col2=y) structs, n >= 1 (all points when n >= count)",
      es => {
        require(es.length == 3, "largestTriangleThreeBuckets(n)(x, y)")
        val n = Cast(es.head, IntegerType)
        val pts = new SortArray(CollectList(CreateNamedStruct(Seq(
          Literal("col1"), Cast(es(1), DoubleType),
          Literal("col2"), Cast(es(2), DoubleType)))).toAggregateExpression())
        chLttb(pts, n)
      }),
    // arrayAUC — exact ROC area over per-row (score, label) arrays via
    // the rank formula with tie-averaging: for each positive score s,
    // credit |{scores < s}| + (|{scores = s}|+1)/2; AUC =
    // (ranksum − P(P+1)/2) / (P·N) — provably equal to pair counting
    // with half-credit ties (the in-suite differential brute-forces
    // that identity). O(n²) per ROW via nested filters — per-row
    // arrays, not a dataset-level AUC. P = 0 or N = 0 → NaN
    // (ClickHouse's degenerate-class answer). Labels are positive when
    // > 0, ClickHouse's rule.
    ("arrayAUC", "arrayAUC(scores, labels) - exact ROC AUC of the per-row arrays (label > 0 = positive; ties half-credit; NaN when one class is empty)",
      es => {
        require(es.length == 2, "arrayAUC(scores, labels)")
        chArrayAuc(es)
      }),

    // mapAdd/mapSubtract — ClickHouse's per-key map arithmetic, over
    // this layer's map-aggregate representation: struct(keys, values)
    // as sumMap/minMap/maxMap produce (spell ad-hoc maps as
    // named_struct('keys', ks, 'values', vs); the positional tuple()
    // form has no keys/values field names, so it fails at ANALYSIS
    // with Spark's no-such-field error naming the missing field).
    // Result keys are the sorted distinct union (the sumMap order);
    // a key absent from a map contributes 0. O(union-keys × maps ×
    // key-count) per row — the chMapAgg cost class, right for the
    // small metric maps these target.
    ("mapAdd", "mapAdd(m1, m2, ...) - per-key sums of struct(keys, values) maps (the sumMap shape; absent keys contribute 0)",
      es => { require(es.length >= 2, "mapAdd(m1, m2, ...)")
        chMapArith(es, es.map(_ => false)) }),
    ("mapSubtract", "mapSubtract(m1, m2, ...) - m1 minus the per-key sums of the rest, over struct(keys, values) maps (the sumMap shape)",
      es => { require(es.length >= 2, "mapSubtract(m1, m2, ...)")
        chMapArith(es, false +: es.tail.map(_ => true)) }),
    ("arrayROCAUC", "arrayROCAUC(scores, labels) - alias of arrayAUC (the ClickHouse 23.x rename)",
      es => {
        require(es.length == 2, "arrayROCAUC(scores, labels)")
        chArrayAuc(es)
      }),
    ("timeDiff", "timeDiff(a, b) - seconds from a to b (ClickHouse's dateDiff('second', a, b) shorthand, on the same epoch-seconds kernel)",
      es => { require(es.length == 2, "timeDiff(a, b)")
        Subtract(chEpochSeconds(es(1)), chEpochSeconds(es.head)) }),
    // sparkbar (r13, replacing the r12 named error) — the stated-
    // contract renderer: see [[chSparkbarExpr]] for the bucket-index,
    // empty-bucket-space, and ⌈sum·8/max⌉ glyph-level rules this layer
    // pins (ClickHouse documents the SHAPE — n buckets over
    // [min_x, max_x], doc example shows interior spaces — but not the
    // level rounding; the contract here is explicit, not silent). The
    // 3/5-arg spellings are what the agg(params)(args) rewrite emits;
    // the bare registry name accepts them too.
    ("graft_ch_sparkbar", "sparkbar(n[, min_x, max_x])(x, y) - n-glyph sparkline of y summed into equal-width x buckets; empty/non-positive bucket -> ' ', else 1/8-block glyph at ceil(sum*8/max_sum) in [1,8]",
      chSparkbarBuilder("sparkbar(n[, min_x, max_x])(x, y)")),
    ("sparkbar", "sparkbar(n[, min_x, max_x], x, y) - the bare-call spelling of graft_ch_sparkbar (ClickHouse's form is sparkbar(n)(x, y), accepted via the parameterized-call rewrite)",
      chSparkbarBuilder("sparkbar(n[, min_x, max_x], x, y)")),
    // Vector NORMS — the single-vector companions of the distance
    // family above, on the same vecFold kernel (norm(v) ≡
    // distance(v, 0) without materializing a zero vector). The
    // *Normalize forms divide each element by the norm; a norm of 0
    // means EVERY element is 0, so the IEEE result ClickHouse produces
    // is 0/0 = NaN per element — special-cased explicitly (Spark's ANSI
    // division would raise DIVIDE_BY_ZERO, its legacy division returns
    // NULL; neither is the IEEE value).
    ("dotProduct", "dotProduct(a, b) - sum of element-wise products over the zipped arrays, as DOUBLE (ClickHouse's array form; its tuple form has no column type here)",
      es => { require(es.length == 2, "dotProduct(a, b)")
        vecFold(es.head, es(1), (acc, x, y) => Add(acc, Multiply(x, y))) }),
    ("L1Norm", "L1Norm(v) - sum of absolute values, as DOUBLE",
      es => { require(es.length == 1, "L1Norm(v)")
        vecFold(es.head, es.head, (acc, x, _) => Add(acc, Abs(x))) }),
    ("L2Norm", "L2Norm(v) - Euclidean length, as DOUBLE",
      es => { require(es.length == 1, "L2Norm(v)")
        Sqrt(vecFold(es.head, es.head, (acc, x, _) =>
          Add(acc, Multiply(x, x)))) }),
    ("L2SquaredNorm", "L2SquaredNorm(v) - sum of squares, as DOUBLE",
      es => { require(es.length == 1, "L2SquaredNorm(v)")
        vecFold(es.head, es.head, (acc, x, _) => Add(acc, Multiply(x, x))) }),
    ("LinfNorm", "LinfNorm(v) - maximum absolute value, as DOUBLE",
      es => { require(es.length == 1, "LinfNorm(v)")
        vecFold(es.head, es.head, (acc, x, _) =>
          Greatest(Seq(acc, Abs(x)))) }),
    ("L1Normalize", "L1Normalize(v) - v / L1Norm(v), element-wise DOUBLE (a zero vector yields non-finite elements, as in ClickHouse)",
      es => { require(es.length == 1, "L1Normalize(v)")
        val n = vecFold(es.head, es.head, (acc, x, _) => Add(acc, Abs(x)))
        ArrayTransform(es.head, lam1(x =>
          If(EqualTo(n, Literal(0.0d)), Literal(Double.NaN),
            Divide(Cast(x, DoubleType), n, EvalMode.LEGACY)))) }),
    ("L2Normalize", "L2Normalize(v) - v / L2Norm(v), element-wise DOUBLE (a zero vector yields non-finite elements, as in ClickHouse)",
      es => { require(es.length == 1, "L2Normalize(v)")
        val n = Sqrt(vecFold(es.head, es.head, (acc, x, _) =>
          Add(acc, Multiply(x, x))))
        ArrayTransform(es.head, lam1(x =>
          If(EqualTo(n, Literal(0.0d)), Literal(Double.NaN),
            Divide(Cast(x, DoubleType), n, EvalMode.LEGACY)))) }),
    ("LinfNormalize", "LinfNormalize(v) - v / LinfNorm(v), element-wise DOUBLE (a zero vector yields non-finite elements, as in ClickHouse)",
      es => { require(es.length == 1, "LinfNormalize(v)")
        val n = vecFold(es.head, es.head, (acc, x, _) =>
          Greatest(Seq(acc, Abs(x))))
        ArrayTransform(es.head, lam1(x =>
          If(EqualTo(n, Literal(0.0d)), Literal(Double.NaN),
            Divide(Cast(x, DoubleType), n, EvalMode.LEGACY)))) }),
    ("medianExactWeighted", "medianExactWeighted(x, w) - quantileExactWeighted at level 0.5",
      es => { require(es.length == 2, "medianExactWeighted(x, w)")
        quantileExactWeightedElement(es(0), es(1), Literal(0.5d)) }),
    // The remaining median* spellings are ClickHouse's approximate
    // sketches — approx-for-approx onto approx_percentile, the README
    // migration note's contract (the bare `median` stays Spark's own
    // exact interpolating median by no-clobber).
    ("medianTiming", "medianTiming(x) - approximate median (approx-for-approx onto approx_percentile)",
      one(e => new ApproximatePercentile(Cast(e, DoubleType), Literal(0.5d))
        .toAggregateExpression())),
    ("medianTDigest", "medianTDigest(x) - approximate median (approx-for-approx onto approx_percentile)",
      one(e => new ApproximatePercentile(Cast(e, DoubleType), Literal(0.5d))
        .toAggregateExpression())),
    ("medianBFloat16", "medianBFloat16(x) - approximate median (approx-for-approx onto approx_percentile)",
      one(e => new ApproximatePercentile(Cast(e, DoubleType), Literal(0.5d))
        .toAggregateExpression())),
    // Exact Shannon entropy in BITS (ClickHouse's convention), composed
    // from one collected column per group: H = log2(n) - (sum_v c_v
    // log2 c_v)/n over the distinct-value counts. O(d*n) per group via
    // the nested-filter count (the chMapAgg cost class); exact-memory
    // like any collect-based kernel.
    ("entropy", "entropy(x) - Shannon entropy of the value distribution, in bits",
      es => { require(es.length == 1, "entropy(x)")
        val xs = CollectList(es.head).toAggregateExpression()
        val n = Cast(new Size(xs), DoubleType)
        val keys = ArrayDistinct(xs)
        val st = UnresolvedNamedLambdaVariable(Seq("__graft_st"))
        val k = UnresolvedNamedLambdaVariable(Seq("__graft_k"))
        val y = UnresolvedNamedLambdaVariable(Seq("__graft_y"))
        val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
        val cnt = Cast(new Size(ArrayFilter(xs,
          LambdaFunction(EqualNullSafe(y, k), Seq(y)))), DoubleType)
        val sumClogC = ArrayAggregate(keys, Literal(0.0d),
          LambdaFunction(Add(st, Multiply(cnt, Log2(cnt))), Seq(st, k)),
          LambdaFunction(fin, Seq(fin)))
        If(EqualTo(n, Literal(0.0d)), Literal.create(null, DoubleType),
          Subtract(Log2(n), Divide(sumClogC, n))) }))

  /** The `to<T>OrNull` / `to<T>OrZero` / `to<T>OrDefault` dirty-data
    * parsing family, generated over the 12 everyday targets (Int8-64,
    * UInt8-64, Float32/64, Date, DateTime). ClickHouse's contract for
    * these is STRING parsing (the non-Or forms handle numeric inputs),
    * so the input is cast to string first; the parse is strict the way
    * ClickHouse's readers are — surrounding whitespace is a non-parse
    * (guarded over the FULL <= 0x20 class Spark's casts trimAll, tabs
    * and newlines included), partial consumption ('123abc') and
    * fractional text for integral targets ('1.5') fail via the ANSI
    * cast — with an explicit digits-only pre-guard on the UInt64 lane,
    * whose Decimal(20,0) carrier would otherwise ROUND fractional text
    * — the date/datetime lanes take shape pre-guards (Spark's casts
    * accept partial dates like '2023-05' and trailing junk after 'T';
    * ClickHouse's readers do not), and the unsigned targets land on
    * wider signed Spark types with the exact unsigned bounds guarded
    * (the accurateCastOrNull discipline — UInt64 rides Decimal(20,0)). Float targets additionally accept
    * ClickHouse's case-insensitive 'inf'/'+inf'/'-inf'/'infinity'/'nan'
    * spellings, which Java's parser would reject. OrZero/OrDefault
    * defaults are ClickHouse's type defaults: 0, 1970-01-01, epoch.
    * OrDefault takes the optional explicit default (cast to the target
    * type); with one argument it equals OrZero. A NULL INPUT stays
    * NULL through every form — ClickHouse's NULL-in propagation; only
    * a non-null non-parse takes the zero/default.
    */
  private def convFamily: Seq[(String, String, Seq[Expression] => Expression)] = {
    val targets: Seq[(String, DataType, Option[(Expression, Expression)], Expression)] = Seq(
      ("Int8", ByteType, None, Literal(0.toByte)),
      ("Int16", ShortType, None, Literal(0.toShort)),
      ("Int32", IntegerType, None, Literal(0)),
      ("Int64", LongType, None, Literal(0L)),
      ("UInt8", ShortType, Some((Literal(0.toShort), Literal(255.toShort))),
        Literal(0.toShort)),
      ("UInt16", IntegerType, Some((Literal(0), Literal(65535))), Literal(0)),
      ("UInt32", LongType, Some((Literal(0L), Literal(4294967295L))), Literal(0L)),
      ("UInt64", DecimalType(20, 0),
        Some((Literal(Decimal(BigDecimal(0)), DecimalType(20, 0)),
          Literal(Decimal(BigDecimal("18446744073709551615")), DecimalType(20, 0)))),
        Literal(Decimal(BigDecimal(0)), DecimalType(20, 0))),
      ("Float32", FloatType, None, Literal(0.0f)),
      ("Float64", DoubleType, None, Literal(0.0d)),
      ("Date", DateType, None, Literal.create(0, DateType)),
      ("DateTime", TimestampType, None, Literal.create(0L, TimestampType)))
    targets.flatMap { case (tn, dt, bounds, zero) =>
      // Shape pre-guards re-tightening Spark's lenient casts to
      // ClickHouse's readers: the Decimal(20,0) UInt64 carrier would
      // ROUND fractional/exponent text (every other integral lane's
      // ANSI cast rejects it), and the date/datetime casts accept
      // partial dates ('2023-05'), bare years, and trailing junk after
      // 'T' — all NULL in ClickHouse. Date also takes a full datetime
      // string (ClickHouse truncates it); DateTime also takes a bare
      // date (midnight). Digit-only epoch strings stay a non-parse
      // here — that is parseDateTimeBestEffort's documented lane.
      val shapeRe: Option[String] = dt match {
        case _: DecimalType => Some("^[+-]?[0-9]+$")
        case DateType =>
          Some("^[0-9]{4}-[0-9]{2}-[0-9]{2}([ T][0-9]{2}:[0-9]{2}:[0-9]{2}(\\.[0-9]+)?)?$")
        case TimestampType =>
          Some("^[0-9]{4}-[0-9]{2}-[0-9]{2}([ T][0-9]{2}:[0-9]{2}:[0-9]{2}(\\.[0-9]+)?)?$")
        case _ => None
      }
      def orNull(e: Expression): Expression = {
        val s = Cast(e, StringType)
        val parsed = TryEval(Cast(s, dt, None, EvalMode.ANSI))
        val ranged = bounds match {
          case None => parsed
          case Some((lo, hi)) =>
            If(Or(LessThan(parsed, lo), GreaterThan(parsed, hi)),
              Literal.create(null, dt), parsed)
        }
        val shaped = shapeRe match {
          case Some(re) =>
            If(Not(RLike(s, Literal(re))), Literal.create(null, dt), ranged)
          case None => ranged
        }
        val special = dt match {
          case FloatType | DoubleType =>
            val low = Lower(s)
            def isIn(vs: Seq[String]) = In(low, vs.map(Literal(_)))
            def num(d: Double): Expression =
              if (dt == FloatType) Literal(d.toFloat) else Literal(d)
            CaseWhen(Seq(
              (isIn(Seq("inf", "+inf", "infinity", "+infinity")),
                num(Double.PositiveInfinity)),
              (isIn(Seq("-inf", "-infinity")), num(Double.NegativeInfinity)),
              (isIn(Seq("nan", "+nan", "-nan")), num(Double.NaN))), shaped)
          case _ => shaped
        }
        // Surrounding whitespace is a non-parse (ClickHouse's readers):
        // the guard covers the FULL class Spark's casts trimAll — every
        // char <= 0x20, not just the space character.
        If(RLike(s, Literal("^[\\x00-\\x20]|[\\x00-\\x20]$")),
          Literal.create(null, dt), special)
      }
      // The Or-default forms still propagate a NULL INPUT as NULL
      // (ClickHouse's NULL-in rule) — only a non-null NON-PARSE takes
      // the default.
      def orElse(e: Expression, d: Expression): Expression =
        If(IsNull(Cast(e, StringType)), Literal.create(null, dt),
          Coalesce(Seq(orNull(e), d)))
      val usageT = tn match {
        case "Date" => "1970-01-01"; case "DateTime" => "1970-01-01 00:00:00"
        case _ => "0"
      }
      Seq(
        (s"to${tn}OrNull",
          s"to${tn}OrNull(s) - strict-parse s as $tn, NULL when it does not parse or fit (surrounding whitespace is a non-parse, ClickHouse's reader rule)",
          (es: Seq[Expression]) => { require(es.length == 1, s"to${tn}OrNull(s)")
            orNull(es.head) }),
        (s"to${tn}OrZero",
          s"to${tn}OrZero(s) - to${tn}OrNull, $usageT when a non-null input does not parse or fit (NULL stays NULL)",
          (es: Seq[Expression]) => { require(es.length == 1, s"to${tn}OrZero(s)")
            orElse(es.head, zero) }),
        (s"to${tn}OrDefault",
          s"to${tn}OrDefault(s[, default]) - to${tn}OrNull with the explicit default (or the $usageT type default) when a non-null input does not parse or fit (NULL stays NULL)",
          (es: Seq[Expression]) => {
            require(es.length == 1 || es.length == 2,
              s"to${tn}OrDefault(s[, default])")
            val d = if (es.length == 2) Cast(es(1), dt) else zero
            orElse(es.head, d) }))
    }
  }

}

/** ClickHouse's `ORDER BY col WITH FILL [FROM a] [TO b] [STEP s]` —
  * gap-filling over an arithmetic progression. The clause is parsed and
  * STRIPPED textually, but the fill itself is a DataFrame post-step in
  * [[ClickHouseSql.sql]]: generated rows need the result SCHEMA (every
  * other column takes its ClickHouse type default — 0, '', false, epoch
  * — which a text rewrite cannot know), so the purely-textual extension
  * path raises a named error pointing here instead of guessing.
  *
  * Supported subset, every exclusion a NAMED error (never a silent
  * semantic change): one ascending sort key that is a NAMED OUTPUT
  * COLUMN of integral type; literal integer bounds (`FROM` inclusive,
  * `TO` exclusive, as ClickHouse); positive literal `STEP` (default 1);
  * the clause must end the statement (a trailing LIMIT would otherwise
  * apply after the fill — put it in an outer query); `INTERPOLATE
  * [(col [AS expr], …)]` — bare columns carry the previous row's value
  * (bare INTERPOLATE = all non-key columns, ClickHouse's default) and
  * `col AS expr` applies the expression to the previous value, CHAINED
  * across consecutive fill rows (the expression may reference only the
  * interpolated column itself — anything else is a named error);
  * no DESC; outer query only. Omitted FROM/TO derive from the result's
  * min/max — only interior holes fill. The progression RE-ANCHORS at
  * every existing row (ClickHouse's FillingTransform), so STEP > 1 with
  * off-grid rows fills from each row's own value — see [[apply]].
  */
object ClickHouseWithFill {
  import AsOfSqlRewrite.{isWordChar, mask}

  /** `from`/`to`/`step` carry the INTEGRAL spellings (epoch-day /
    * epoch-second semantics on date axes, matching ClickHouse's
    * integer-backed Date/DateTime types); `fromLit`/`toLit` carry a
    * quoted date/datetime literal bound (evaluated against the session
    * at apply time, so the session time zone governs), and
    * `stepInterval` the `STEP INTERVAL n UNIT` form — both only legal
    * on DATE/TIMESTAMP fill keys.
    */
  final case class FillSpec(column: String, from: Option[Long],
      to: Option[Long], step: Long, interpolate: Seq[String] = Seq.empty,
      exprs: Map[String, String] = Map.empty,
      fromLit: Option[String] = None, toLit: Option[String] = None,
      stepInterval: Option[(Long, String)] = None)

  private val FillRe = java.util.regex.Pattern.compile(
    "(?i)\\bWITH\\s+FILL\\b")
  private val IdentRe = java.util.regex.Pattern.compile(
    "[A-Za-z_][A-Za-z0-9_]*")

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException("ClickHouse SQL: " + msg)

  /** True when the statement carries a WITH FILL clause (vs a CTE or
    * column that merely spells `fill`): a depth-0 `ORDER` keyword
    * precedes the match. Depth >0 (subquery) is a named error — the fill
    * is a whole-result post-step.
    */
  def detect(masked: String): Option[Int] = {
    val m = FillRe.matcher(masked)
    while (m.find()) {
      var depth = 0
      var lastOrder = -1
      var i = 0
      while (i < m.start()) {
        val c = masked.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        else if (masked.regionMatches(true, i, "ORDER", 0, 5) &&
            (i == 0 || !isWordChar(masked.charAt(i - 1))) &&
            (i + 5 >= masked.length || !isWordChar(masked.charAt(i + 5)))) {
          if (depth == 0) lastOrder = i
        }
        i += 1
      }
      if (lastOrder >= 0 && depth == 0) return Some(lastOrder)
      if (lastOrder >= 0 || depth > 0) fail(
        "WITH FILL inside a subquery is not supported — the fill is a " +
          "whole-result step; apply it in the outer query")
      // No preceding ORDER BY at any depth: `WITH fill AS (...)` — not
      // the clause. Keep scanning (a real fill may follow).
    }
    None
  }

  /** Parse and strip the clause: (sql without `ORDER BY … WITH FILL …`,
    * fill spec). The ORDER BY is removed wholesale — [[apply]] re-sorts
    * after the union.
    */
  def extract(sql: String): (String, Option[FillSpec]) = {
    val masked = mask(sql)
    val orderIdx = detect(masked) match {
      case None => return (sql, None)
      case Some(i) => i
    }
    // The match detect() validated: the first one AFTER its ORDER BY (an
    // earlier `WITH fill AS (...)` CTE regex hit must not shadow it).
    val m = FillRe.matcher(masked)
    while (m.find() && m.start() < orderIdx) ()
    val byIdx = AsOfSqlRewrite.findKeyword(masked, orderIdx + 5, "BY")
    if (byIdx < 0 || byIdx > m.start()) fail("WITH FILL requires ORDER BY")
    val itemTxt = sql.substring(byIdx + 2, m.start()).trim
    if (itemTxt.contains(",")) fail(
      "WITH FILL supports exactly one sort key — fill one dimension and " +
        "join the rest")
    val (expr, mods) = {
      val up = itemTxt.toUpperCase
      if (up.endsWith(" DESC")) fail(
        "WITH FILL DESC is not supported — fill ascending and sort in an " +
          "outer query")
      if (up.endsWith(" ASC")) (itemTxt.dropRight(4).trim, "ASC")
      else (itemTxt, "")
    }
    if (!IdentRe.matcher(expr).matches()) fail(
      s"the WITH FILL key must be a named output column, got: $expr — " +
        "alias the expression in the select list")
    // Options: FROM / TO / STEP, in order. Each bound is a literal
    // integer (integral fill keys), or — for DATE/DateTime keys — a
    // quoted date/datetime string, optionally wrapped in
    // toDate(...)/toDateTime(...); STEP additionally takes the
    // `INTERVAL n UNIT` form.
    var i = m.end()
    // RAW-side whitespace skip: the masked text blanks string literals
    // (quotes included) to spaces, so a masked-side skip would silently
    // jump over a quoted date bound; raw whitespace is a strict subset.
    def skipWs(): Unit = { while (i < sql.length && sql.charAt(i).isWhitespace) i += 1 }
    def word(kw: String): Boolean = {
      skipWs()
      masked.regionMatches(true, i, kw, 0, kw.length) &&
        (i + kw.length >= masked.length || !isWordChar(masked.charAt(i + kw.length)))
    }
    def tryLong(): Option[Long] = {
      skipWs()
      val s = i
      if (i < masked.length && (masked.charAt(i) == '-' || masked.charAt(i) == '+')) i += 1
      while (i < masked.length && masked.charAt(i).isDigit) i += 1
      if (i == s || (i == s + 1 && !masked.charAt(s).isDigit)) { i = s; None }
      else Some(sql.substring(s, i).toLong)
    }
    // A quoted literal is BLANKED in the masked text, so the scan reads
    // the RAW sql for the quote span; the optional toDate/toDateTime
    // wrapper is dropped (the bound evaluates through CAST at apply
    // time, which is what those functions map to anyway).
    def tryDateLit(what: String): Option[String] = {
      // RAW-side leading skip — the masked text blanks a bare quoted
      // literal to spaces, so the masked skip would jump past it.
      while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
      var j = i
      var wrapped = false
      if (masked.regionMatches(true, j, "toDateTime", 0, 10)) { j += 10; wrapped = true }
      else if (masked.regionMatches(true, j, "toDate", 0, 6)) { j += 6; wrapped = true }
      // Whitespace skips and the quote scan read the RAW sql: the masked
      // text blanks the literal INCLUDING its quotes, so a masked-side
      // skip would swallow the whole bound.
      if (wrapped) {
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
        if (j >= sql.length || sql.charAt(j) != '(') return None
        j += 1
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
      }
      if (j >= sql.length || sql.charAt(j) != '\'') return None
      val q0 = j
      j += 1
      while (j < sql.length && sql.charAt(j) != '\'') j += 1
      if (j >= sql.length) fail(s"WITH FILL $what: unterminated string literal")
      val lit = sql.substring(q0, j + 1)
      j += 1
      if (wrapped) {
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
        if (j >= sql.length || sql.charAt(j) != ')') fail(
          s"WITH FILL $what: malformed toDate(...)/toDateTime(...) bound")
        j += 1
      }
      i = j
      Some(lit)
    }
    def bound(what: String): (Option[Long], Option[String]) =
      tryLong() match {
        case Some(v) => (Some(v), None)
        case None => tryDateLit(what) match {
          case Some(l) => (None, Some(l))
          case None => fail(
            s"WITH FILL $what must be a literal integer, a quoted " +
              "date/datetime string, or toDate('...')/toDateTime('...')")
        }
      }
    var from: Option[Long] = None
    var to: Option[Long] = None
    var fromLit: Option[String] = None
    var toLit: Option[String] = None
    var step = 1L
    var stepInterval: Option[(Long, String)] = None
    if (word("FROM")) { i += 4; val b = bound("FROM"); from = b._1; fromLit = b._2 }
    if (word("TO")) { i += 2; val b = bound("TO"); to = b._1; toLit = b._2 }
    if (word("STEP")) {
      i += 4
      if (word("INTERVAL")) {
        i += 8
        val n = tryLong().getOrElse(fail(
          "WITH FILL STEP INTERVAL needs a literal integer count"))
        skipWs()
        val u0 = i
        while (i < masked.length && isWordChar(masked.charAt(i))) i += 1
        val unit = masked.substring(u0, i).toUpperCase
        if (Set("MONTH", "QUARTER", "YEAR").contains(unit)) fail(
          s"WITH FILL STEP INTERVAL $n $unit is not a fixed stride " +
            "(months vary in length, so the re-anchored progression is " +
            "not an integer grid) — fill on a toYYYYMM/epoch-month " +
            "integer axis and convert in an outer query")
        if (!Set("SECOND", "MINUTE", "HOUR", "DAY", "WEEK").contains(unit))
          fail(s"WITH FILL STEP INTERVAL: unknown unit '$unit' — " +
            "SECOND/MINUTE/HOUR/DAY/WEEK")
        if (n <= 0) fail("WITH FILL STEP must be a positive interval")
        stepInterval = Some((n, unit))
      } else step = tryLong().getOrElse(fail(
        "WITH FILL STEP must be a literal integer or INTERVAL n UNIT"))
    }
    if (step <= 0) fail("WITH FILL STEP must be a positive integer")
    // INTERPOLATE [(col [AS expr], …)] — bare columns carry the
    // previous row's value; `col AS expr` applies the expression to the
    // PREVIOUS row's value of THAT column, CHAINED across consecutive
    // fill rows (ClickHouse's FillingTransform recurrence). The
    // expression may reference only the interpolated column itself —
    // other columns' previous-row values are not carried, and guessing
    // would be the silent divergence this layer forbids. Bare
    // INTERPOLATE = every non-key output column, ClickHouse's default.
    var interp: Seq[String] = Seq.empty
    var exprMap: Map[String, String] = Map.empty
    var bareInterp = false
    if (word("INTERPOLATE")) {
      i += 11
      skipWs()
      if (i < masked.length && masked.charAt(i) == '(') {
        val s0 = i
        var depth = 0
        var end = -1
        while (end < 0 && i < masked.length) {
          val ch = masked.charAt(i)
          if (ch == '(') depth += 1
          else if (ch == ')') { depth -= 1; if (depth == 0) end = i }
          i += 1
        }
        if (end < 0) fail("INTERPOLATE list is unbalanced")
        // Depth-aware item split — an AS-expression may contain commas.
        val spans = {
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var d = 0; var st = s0 + 1; var j = s0 + 1
          while (j < end) {
            val ch = masked.charAt(j)
            if (ch == '(') d += 1
            else if (ch == ')') d -= 1
            else if (ch == ',' && d == 0) { buf += ((st, j)); st = j + 1 }
            j += 1
          }
          buf += ((st, end))
          buf.toSeq
        }
        spans.foreach { case (a, b) =>
          // Locate a depth-0 AS keyword inside the item (on masked text).
          var asPos = -1; var d2 = 0; var j2 = a
          while (j2 < b - 1 && asPos < 0) {
            val ch = masked.charAt(j2)
            if (ch == '(') d2 += 1
            else if (ch == ')') d2 -= 1
            else if (d2 == 0 && (ch == 'A' || ch == 'a') &&
                (j2 == a || !isWordChar(masked.charAt(j2 - 1))) &&
                (masked.charAt(j2 + 1) == 'S' || masked.charAt(j2 + 1) == 's') &&
                (j2 + 2 >= b || !isWordChar(masked.charAt(j2 + 2)))) asPos = j2
            j2 += 1
          }
          if (asPos < 0) {
            val raw = sql.substring(a, b).trim
            if (!IdentRe.matcher(raw).matches()) fail(
              "INTERPOLATE items must be `col` or `col AS expr`, got: " + raw)
            interp :+= raw
          } else {
            val cname = sql.substring(a, asPos).trim
            if (!IdentRe.matcher(cname).matches()) fail(
              "INTERPOLATE `col AS expr` needs a plain column name, got: " +
                sql.substring(a, asPos).trim)
            val exprRaw = sql.substring(asPos + 2, b).trim
            if (exprRaw.isEmpty) fail(
              s"INTERPOLATE $cname AS … needs an expression")
            validateSelfOnly(cname, masked.substring(asPos + 2, b))
            interp :+= cname
            exprMap += (cname -> exprRaw)
          }
        }
        if (interp.isEmpty) fail("INTERPOLATE list is empty")
      } else bareInterp = true
    }
    skipWs()
    if (i < masked.length) fail(
      "WITH FILL must end the statement (found trailing text: " +
        sql.substring(i).trim.take(30) + " …) — a LIMIT would apply " +
        "AFTER the fill; put it in an outer query")
    (sql.substring(0, orderIdx),
      Some(FillSpec(expr, from, to, step,
        if (bareInterp) Seq("*") else interp, exprMap,
        fromLit, toLit, stepInterval)))
  }

  /** An `INTERPOLATE col AS expr` expression may reference only the
    * interpolated column itself (plus literals, operators, CASTs, and
    * function calls) — checked over the MASKED text so string literals
    * spelling other column names stay inert. Type names and SQL
    * keywords pass; any other bare identifier is a named error.
    */
  private val InterpAllowedKw = Set("CAST", "AS", "CASE", "WHEN", "THEN",
    "ELSE", "END", "NULL", "TRUE", "FALSE", "AND", "OR", "NOT", "IN", "IS",
    "INTERVAL", "DIV", "BIGINT", "INT", "INTEGER", "LONG", "SMALLINT",
    "TINYINT", "DOUBLE", "FLOAT", "REAL", "DECIMAL", "STRING", "VARCHAR",
    "CHAR", "BOOLEAN", "DATE", "TIMESTAMP")

  private def validateSelfOnly(cname: String, maskedExpr: String): Unit = {
    val m = IdentRe.matcher(maskedExpr)
    while (m.find()) {
      val tok = maskedExpr.substring(m.start(), m.end())
      var j = m.end()
      while (j < maskedExpr.length && maskedExpr.charAt(j).isWhitespace) j += 1
      val isCall = j < maskedExpr.length && maskedExpr.charAt(j) == '('
      if (!isCall && !tok.equalsIgnoreCase(cname) &&
          !InterpAllowedKw.contains(tok.toUpperCase)) fail(
        s"INTERPOLATE $cname AS expr may reference only $cname itself " +
          s"(found `$tok`) — other columns' previous-row values are not " +
          "carried; compute multi-column recurrences with a window over " +
          "the filled result")
    }
  }

  /** Replace whole-word, non-function-call references to the column with
    * the fold variable, over the masked text (a string literal spelling
    * the column name is untouched).
    */
  private def substSelf(cname: String, raw: String): String = {
    val maskedE = mask(raw)
    val sb = new StringBuilder
    var last = 0
    val m = IdentRe.matcher(maskedE)
    while (m.find()) {
      if (maskedE.substring(m.start(), m.end()).equalsIgnoreCase(cname)) {
        var j = m.end()
        while (j < maskedE.length && maskedE.charAt(j).isWhitespace) j += 1
        val isCall = j < maskedE.length && maskedE.charAt(j) == '('
        if (!isCall) {
          sb.append(raw.substring(last, m.start())).append("__graft_fst")
          last = m.end()
        }
      }
    }
    sb.append(raw.substring(last)).toString
  }

  /** The fill itself. ClickHouse's FillingTransform RE-ANCHORS the
    * progression at every existing row — after an off-grid row 5 with
    * STEP 2 the next fill is 7, not the FROM-grid's 6 — so candidates
    * are generated PER GAP from each gap's left edge (`k+s, k+2s, … <
    * next`), never from one fixed global grid (for STEP 1 the two
    * coincide; for STEP > 1 the grid form silently diverges). Leading
    * fills anchor at FROM while FROM < min(key) (the fill cursor starts
    * at FROM and emits while below the first row); a FROM at-or-inside
    * the data range produces no leading fills, because every existing
    * row re-bases the cursor to itself. Trailing fills anchor at the
    * LAST row: `max+s, … < TO`. Generated rows take ClickHouse type
    * defaults in every other column (0 / '' / false / epoch; non-scalar
    * types take NULL, documented divergence); result = union, sorted by
    * the fill key.
    *
    * DATE/TIMESTAMP fill keys (r12) ride the SAME integer kernel
    * losslessly: DATE as epoch days (`STEP INTERVAL n DAY/WEEK`, or a
    * plain integer STEP = n days — ClickHouse's Date IS a day integer),
    * TIMESTAMP as epoch MICROseconds (`SECOND/MINUTE/HOUR/DAY/WEEK`
    * strides; plain STEP n = n seconds, the DateTime epoch-second
    * integer), so an off-grid sub-second row re-anchors exactly.
    * MONTH/QUARTER/YEAR strides are a named error (not fixed strides —
    * fill an epoch-month integer axis instead). Literal FROM/TO bounds
    * (`'2024-01-01'` / `toDate('...')`) evaluate through the session —
    * its time zone governs, exactly as a CAST inside the query would.
    *
    * Scale: the lead window runs single-partition over the DISTINCT key
    * set only — the fill axis is a report dimension whose cardinality is
    * bounded by its [min, max] span, not by the data; payload rows are
    * never reshuffled (the union is exchange-free) and the former
    * anti-join is gone entirely — gap generation cannot produce an
    * existing key.
    */
  def apply(df: DataFrame, spec: FillSpec): DataFrame = {
    import org.apache.spark.sql.functions._
    val field = df.schema.fields.find(_.name == spec.column).getOrElse(fail(
      s"the WITH FILL key ${spec.column} is not an output column of the query"))
    // The fill axis is always an integer progression internally;
    // DATE/TIMESTAMP keys ride it losslessly as epoch days / epoch
    // MICROseconds (micros, not seconds, so sub-second real rows
    // re-anchor exactly), with `back` converting generated values to
    // the column type. Literal date bounds evaluate through the
    // SESSION (one 1-row local eval) so its time zone governs —
    // exactly what a CAST in the query itself would see.
    def evalBound(lit: String, castTo: String, toAxis: String): Long =
      df.sparkSession.range(1)
        .selectExpr(s"CAST($toAxis(CAST($lit AS $castTo)) AS BIGINT) AS b")
        .head().getLong(0)
    val (key, back, s, fromAxis, toAxis): (Column, Column => Column,
        Long, Option[Long], Option[Long]) = field.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        if (spec.stepInterval.isDefined) fail(
          "WITH FILL STEP INTERVAL needs a DATE/DateTime fill key; " +
            s"${spec.column} is ${field.dataType.simpleString} — use a " +
            "plain integer STEP")
        if (spec.fromLit.isDefined || spec.toLit.isDefined) fail(
          "WITH FILL date-literal bounds need a DATE/DateTime fill key; " +
            s"${spec.column} is ${field.dataType.simpleString}")
        (col(spec.column).cast(LongType),
          (c: Column) => c.cast(field.dataType),
          spec.step, spec.from, spec.to)
      case DateType =>
        val stepDays = spec.stepInterval match {
          case None => spec.step // ClickHouse Date is day-integer: STEP n = n days
          case Some((n, "DAY")) => n
          case Some((n, "WEEK")) => n * 7L
          case Some((n, u)) => fail(
            s"WITH FILL STEP INTERVAL $n $u on a DATE key — sub-day " +
              "strides need a DateTime key (cast the axis to DateTime)")
        }
        def b(lit: Option[String], intF: Option[Long]) =
          intF.orElse(lit.map(evalBound(_, "DATE", "unix_date")))
        (unix_date(col(spec.column)).cast(LongType),
          (c: Column) => date_from_unix_date(c.cast(IntegerType)),
          stepDays,
          b(spec.fromLit, spec.from), b(spec.toLit, spec.to))
      case TimestampType =>
        val unitMicros = Map("SECOND" -> 1000000L, "MINUTE" -> 60000000L,
          "HOUR" -> 3600000000L, "DAY" -> 86400000000L,
          "WEEK" -> 604800000000L)
        val stepUs = spec.stepInterval match {
          // ClickHouse DateTime is epoch-second-integer: STEP n = n s.
          case None => spec.step * 1000000L
          case Some((n, u)) => n * unitMicros(u)
        }
        def b(lit: Option[String], intF: Option[Long]) =
          intF.map(_ * 1000000L) // integer bound = epoch seconds, the CH DateTime value
            .orElse(lit.map(evalBound(_, "TIMESTAMP", "unix_micros")))
        (unix_micros(col(spec.column)),
          (c: Column) => timestamp_micros(c),
          stepUs,
          b(spec.fromLit, spec.from), b(spec.toLit, spec.to))
      case other => fail(
        s"the WITH FILL key must be integral, DATE, or TIMESTAMP, got " +
          s"$other — fill over an epoch integer and convert in an outer " +
          "query")
    }
    val keys = df.select(key.as("__k")).where(col("__k").isNotNull).distinct()
    val gaps = keys.select(col("__k"),
      lead(col("__k"), 1).over(
        org.apache.spark.sql.expressions.Window.orderBy("__k")).as("__next"))
    // posexplode: the 0-based position INSIDE the gap feeds the
    // `col AS expr` chained recurrence (fill row p applies the
    // expression p+1 times to the previous real row's value).
    val posV = Seq("__graft_fill_pos", "__graft_fill_v")
    val interior = gaps
      .where(col("__next").isNotNull && col("__k") + s <= col("__next") - 1)
      .select(posexplode(sequence(col("__k") + s, col("__next") - 1, lit(s)))
        .as(posV))
    val bounds = df.agg(min(key).as("__min"), max(key).as("__max"))
    val leading = fromAxis.map { f =>
      bounds.where(col("__min").isNotNull && lit(f) <= col("__min") - 1)
        .select(posexplode(sequence(lit(f), col("__min") - 1, lit(s)))
          .as(posV))
    }
    val trailing = toAxis.map { t =>
      bounds.where(col("__max").isNotNull && col("__max") + s <= lit(t - 1))
        .select(posexplode(sequence(col("__max") + s, lit(t - 1), lit(s)))
          .as(posV))
    }
    val missing = (Seq(interior) ++ leading ++ trailing).reduce(_ union _)
    def chDefault(dt: org.apache.spark.sql.types.DataType) = dt match {
      case _: NumericType => lit(0).cast(dt)
      case StringType => lit("")
      case BooleanType => lit(false)
      case DateType => to_date(lit("1970-01-01"))
      // TIMESTAMP default = the epoch-0 INSTANT (ClickHouse DateTime(0)),
      // not a session-zone wall clock; NTZ is zone-free, so the
      // wall-clock string IS its epoch default.
      case TimestampType => lit(0L).cast(TimestampType)
      case TimestampNTZType => lit("1970-01-01 00:00:00").cast(dt)
      case other => lit(null).cast(other)
    }
    // INTERPOLATE: "*" (bare form) = every non-key column. Carried
    // columns take the PREVIOUS row's value — implemented as a
    // last-real-row-struct window over the union (the struct wrapper
    // makes ignoreNulls skip generated rows, never a real row whose
    // value happens to be null); leading fills with no prior row fall
    // back to the ClickHouse type default. The window shares the
    // single-partition report-axis cost bound of the gap lead above.
    val interp: Seq[String] =
      if (spec.interpolate == Seq("*"))
        df.schema.fieldNames.toSeq.filter(_ != spec.column)
      else spec.interpolate
    interp.foreach { c =>
      if (c == spec.column) fail("the WITH FILL key cannot be INTERPOLATEd")
      if (!df.schema.fieldNames.contains(c)) fail(
        s"INTERPOLATE column $c is not an output column of the query")
    }
    val interpSet = interp.toSet
    val fills = missing.select((df.schema.fields.toSeq.map { f =>
      if (f.name == spec.column) back(col("__graft_fill_v")).as(f.name)
      else if (interpSet(f.name)) lit(null).cast(f.dataType).as(f.name)
      else chDefault(f.dataType).as(f.name)
    } :+ col("__graft_fill_pos")): _*)
    if (interp.isEmpty)
      df.unionByName(fills.drop("__graft_fill_pos")).orderBy(col(spec.column))
    else {
      val gen = "__graft_fill_gen"
      val u = df.withColumn(gen, lit(false))
        .withColumn("__graft_fill_pos", lit(0))
        .unionByName(fills.withColumn(gen, lit(true)))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(spec.column))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val carried = interp.foldLeft(u) { (d, c) =>
        val dt = df.schema(c).dataType
        val src = last(when(!col(gen), struct(col(c))), ignoreNulls = true)
          .over(w).getField(c)
        val base = coalesce(src, chDefault(dt))
        spec.exprs.get(c) match {
          case None =>
            d.withColumn(c, when(col(gen), base).otherwise(col(c)))
          case Some(raw) =>
            // `col AS expr`, chained: fill row at gap position p takes
            // expr applied p+1 times to the previous REAL row's value
            // (leading fills with no prior row start from the type
            // default — stated convention). One ArrayAggregate per row,
            // O(gap length) per fill row; the result is cast back to
            // the column's type every step, ClickHouse's fixed-column-
            // type behavior.
            val ddl = dt.sql
            val sub = substSelf(c, raw)
            val foldTxt =
              "aggregate(sequence(1, __graft_fill_pos + 1), " +
                s"CAST(`__graft_fill_base` AS $ddl), " +
                s"(__graft_fst, __graft_fit) -> CAST(($sub) AS $ddl), " +
                "__graft_fst -> __graft_fst)"
            d.withColumn("__graft_fill_base", base)
              .withColumn(c, when(col(gen), expr(foldTxt)).otherwise(col(c)))
              .drop("__graft_fill_base")
        }
      }
      carried.drop(gen).drop("__graft_fill_pos").orderBy(col(spec.column))
    }
  }
}

/** Run a ClickHouse-dialect SQL statement on ANY session — the
  * vanilla-session twin of the `GraftExtensions` wiring (where plain
  * `spark.sql` understands the dialect for any statement the stock
  * parser rejects). Same kernel both ways, but HERE the rewrite is
  * unconditional: the caller has explicitly declared the statement to be
  * ClickHouse dialect, so there is no standard-SQL behavior to preserve.
  * [[graft.Engine.ensure]] (via [[org.apache.spark.sql.graft.AsOf.sql]])
  * supplies the function names — never replacing an existing one: a Spark
  * built-in or a user's own temp function of the same name wins, so a
  * user function is never clobbered as a side effect; rename it if the
  * ClickHouse semantics are wanted — and the statement then also flows
  * through [[AsOfSqlRewrite]] so ASOF clauses keep working inside ported
  * queries. `WITH FILL` peels off first —
  * it is a DataFrame post-step ([[ClickHouseWithFill]]), the one clause
  * whose semantics need the result schema.
  */
object ClickHouseSql {
  def sql(spark: SparkSession, chSql: String): DataFrame = {
    val (core, fill) = ClickHouseWithFill.extract(chSql)
    val df = org.apache.spark.sql.graft.AsOf.sql(spark, ClickHouseSqlRewrite(core))
    fill.fold(df)(ClickHouseWithFill.apply(df, _))
  }
}
