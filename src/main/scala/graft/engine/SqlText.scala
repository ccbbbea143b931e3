package graft.engine

import scala.collection.mutable

/** Pure text scanners for the engine's SQL dispatch — quote-aware,
  * paren-aware, no Spark dependency, so they are property-testable in a
  * bare JVM. The QUALIFY rewrite lives here because it is a pure
  * statement-to-statement transformation.
  */
private[graft] object SqlText {

  // ---- QUALIFY (extension: DuckDB/Snowflake post-window filter) -----------

  /** Rewrite every QUALIFY clause in the statement to plain SQL, innermost
    * first: the predicate (and any trailing ORDER BY sort expressions,
    * which may reference FROM-scope columns per DuckDB resolution) ride
    * along as injected select-list columns, the filter wraps outside, and
    * `SELECT * EXCEPT (...)` strips the helpers — so the result is pure
    * text and nests anywhere a subquery does. No-op without QUALIFY.
    */
  /** pg's `UNNEST(expr) WITH ORDINALITY [[AS] alias [(val, ord)]]` → a
    * lateral posexplode subquery yielding the element column plus a
    * 1-BASED ordinal, under pg's default names (`unnest`, `ordinality`)
    * when unaliased. Only the WITH ORDINALITY form rewrites: it exists
    * solely in FROM position, so the text match cannot hit select-list
    * payload (a bare select-list `unnest(...)` should keep erroring as
    * the unknown function it is here). Quote-aware; nested occurrences
    * inside the argument rewrite recursively.
    */
  def rewriteUnnestOrdinality(sql: String): String = {
    val lw = sql.toLowerCase
    if (!lw.contains("unnest") || !lw.contains("ordinality")) return sql
    val reHead = """(?i)\Aunnest\s*\(""".r
    val reTail =
      """(?i)\A\s*with\s+ordinality(?:\s+(?:as\s+)?(\w+)(?:\s*\(\s*(\w+)\s*,\s*(\w+)\s*\))?)?""".r
    val out = new StringBuilder
    var i = 0
    var q: Char = 0 // 0 = outside; '\'' or '"' = inside that literal kind
    while (i < sql.length) {
      val ch = sql(i)
      if (q != 0) {
        out += ch
        if (ch == q) {
          if (i + 1 < sql.length && sql(i + 1) == q) { out += q; i += 1 }
          else q = 0
        }
        i += 1
      } else if (ch == '\'' || ch == '"') { q = ch; out += ch; i += 1 }
      else {
        val boundary = i == 0 ||
          (!sql(i - 1).isLetterOrDigit && sql(i - 1) != '_')
        val head =
          if (boundary && (ch == 'u' || ch == 'U'))
            reHead.findFirstMatchIn(sql.substring(i))
          else None
        head match {
          case Some(h) =>
            val open = i + h.end - 1
            val close = matchingParen(sql, open)
            reTail.findFirstMatchIn(sql.substring(close + 1)) match {
              case Some(t) =>
                val e = rewriteUnnestOrdinality(sql.substring(open + 1, close))
                val alias = Option(t.group(1)).getOrElse("unnest")
                val c1 = Option(t.group(2)).getOrElse("unnest")
                val c2 = Option(t.group(3)).getOrElse("ordinality")
                out.append(s"lateral (select col as $c1, pos + 1 as $c2 " +
                  s"from (select posexplode($e) as (pos, col)) __graft_unn) $alias")
                i = close + 1 + t.end
              case None => out += ch; i += 1
            }
          case None => out += ch; i += 1
        }
      }
    }
    out.toString
  }

  def rewriteQualify(sql0: String): String = {
    // statement-to-statement dialect rewrites compose here so every
    // dispatch site (query, view body, matview body, EXPLAIN) gets both
    val sql = rewriteUnnestOrdinality(sql0)
    if (!sql.toLowerCase.contains("qualify")) return sql
    // recurse into parenthesized groups first (subqueries, CTE bodies)
    val sb = new StringBuilder
    var i = 0; var q: Char = 0
    while (i < sql.length) {
      val ch = sql(i)
      if (q != 0) {
        sb += ch
        if (ch == q) {
          if (i + 1 < sql.length && sql(i + 1) == q) { sb += q; i += 1 }
          else q = 0
        }
      } else ch match {
        case '\'' | '"' => q = ch; sb += ch
        case '(' =>
          val close = matchingParen(sql, i)
          sb += '('
          sb.append(rewriteQualify(sql.substring(i + 1, close)))
          sb += ')'
          i = close
        case c => sb += c
      }
      i += 1
    }
    val cur = sb.toString
    splitQualify(cur) match {
      case None => cur
      case Some((body, pred, trailing)) =>
        val (trail, obCols, obNames) = liftTrailingOrder(trailing)
        val injected = injectSelectColumn(body,
          (s"($pred) AS __graft_qualify" +: obCols).mkString(", "))
        val hidden = ("__graft_qualify" +: obNames).mkString(", ")
        s"SELECT * EXCEPT ($hidden) FROM (SELECT * FROM ($injected) " +
          s"AS __graft_qualify_sub WHERE __graft_qualify) " +
          s"AS __graft_qualify_outer $trail"
    }
  }

  /** Apply `f` to the statement segments OUTSIDE string literals —
    * single-quoted AND double-quoted (Spark's default dialect treats
    * `"..."` as a string literal, not an identifier, so a rewrite that
    * touched it would corrupt payload). Doubled quotes ('' / "") escape
    * inside their own kind; the other quote kind is payload inside a
    * literal.
    */
  def mapOutsideQuotes(sql: String, f: String => String): String = {
    val st = scanStates(sql)
    def payload(i: Int): Boolean =
      st(i) == StSq || st(i) == StDq || st(i) == StDollar
    val sb = new StringBuilder
    val seg = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (payload(i)) {
        if (seg.nonEmpty) { sb.append(f(seg.toString)); seg.clear() }
        sb += sql(i)
      } else seg += sql(i)
      i += 1
    }
    sb.append(f(seg.toString))
    sb.toString
  }

  // ---- the one lexical state machine (r18) --------------------------------

  /** Per-character lexical states. ONE scanner assigns them; every
    * consumer below (stripComments, conformLiterals, quotedMask,
    * mapOutsideQuotes, splitStatements) derives from the same pass, so
    * the scanners can never disagree about what is payload — the r17
    * hole (dollar-quoted bodies read as top-level SQL by some scanners,
    * as payload by others) is closed by construction. Delimiters carry
    * their region's state (the opening `'` is IN the literal, the `--`
    * dashes are IN the comment).
    */
  final val StOut: Byte = 0    // plain SQL text
  final val StSq: Byte = 1     // '...'  ('' escapes)
  final val StDq: Byte = 2     // "..."  ("" escapes; Spark reads as literal)
  final val StDollar: Byte = 3 // $tag$ ... $tag$ (pg dollar quoting)
  final val StLine: Byte = 4   // -- to end of line (newline NOT included)
  final val StBlock: Byte = 5  // /* ... */ nested (pg and Spark both nest)
  final val StHint: Byte = 6   // /*+ ... */ optimizer hint (kept verbatim)

  /** Match a dollar-quote delimiter `$tag$` at `i` (empty or
    * identifier-shaped tag, pg rules); returns the index AFTER the
    * closing `$`, or -1. `$1` positional parameters never match: a
    * digit cannot start a tag and is not a closing `$`.
    */
  private def dollarTagEnd(s: String, i: Int): Int = {
    if (i >= s.length || s(i) != '$') return -1
    var j = i + 1
    if (j < s.length && (s(j).isLetter || s(j) == '_')) {
      j += 1
      while (j < s.length && (s(j).isLetterOrDigit || s(j) == '_')) j += 1
    }
    if (j < s.length && s(j) == '$') j + 1 else -1
  }

  /** One pass over `sql` assigning each character its lexical state.
    * Unterminated regions (a quote or comment left open) run to the end
    * of the text — the conservative direction for every consumer: an
    * incomplete statement is never split, never comment-stripped into
    * something else.
    */
  def scanStates(sql: String): Array[Byte] = {
    val st = new Array[Byte](sql.length)
    var i = 0
    while (i < sql.length) {
      val ch = sql(i)
      if (ch == '\'') {
        st(i) = StSq; i += 1
        var open = true
        while (open && i < sql.length) {
          st(i) = StSq
          if (sql(i) == '\'') {
            if (i + 1 < sql.length && sql(i + 1) == '\'') {
              st(i + 1) = StSq; i += 2
            } else { open = false; i += 1 }
          } else i += 1
        }
      } else if (ch == '"') {
        st(i) = StDq; i += 1
        var open = true
        while (open && i < sql.length) {
          st(i) = StDq
          if (sql(i) == '"') {
            if (i + 1 < sql.length && sql(i + 1) == '"') {
              st(i + 1) = StDq; i += 2
            } else { open = false; i += 1 }
          } else i += 1
        }
      } else if (ch == '$' && dollarTagEnd(sql, i) > 0) {
        val tagEnd = dollarTagEnd(sql, i)
        val tag = sql.substring(i, tagEnd)
        val close = sql.indexOf(tag, tagEnd)
        val end = if (close < 0) sql.length else close + tag.length
        java.util.Arrays.fill(st, i, end, StDollar)
        i = end
      } else if (ch == '-' && i + 1 < sql.length && sql(i + 1) == '-') {
        while (i < sql.length && sql(i) != '\n') { st(i) = StLine; i += 1 }
        // the newline itself stays StOut: it is whitespace, not comment
      } else if (ch == '/' && i + 2 < sql.length && sql(i + 1) == '*' &&
          sql(i + 2) == '+') {
        val close = sql.indexOf("*/", i + 3)
        val end = if (close < 0) sql.length else close + 2
        java.util.Arrays.fill(st, i, end, StHint)
        i = end
      } else if (ch == '/' && i + 1 < sql.length && sql(i + 1) == '*') {
        val start = i
        var depth = 1; i += 2
        while (i < sql.length && depth > 0) {
          if (sql(i) == '/' && i + 1 < sql.length && sql(i + 1) == '*') {
            depth += 1; i += 2
          } else if (sql(i) == '*' && i + 1 < sql.length && sql(i + 1) == '/') {
            depth -= 1; i += 2
          } else i += 1
        }
        java.util.Arrays.fill(st, start, i, StBlock)
      } else {
        st(i) = StOut; i += 1
      }
    }
    st
  }

  /** Split a multi-statement buffer on `;` in plain text (outside
    * literals, dollar bodies and comments) — the pgwire simple-query
    * splitter, shared (r18) with the line protocol. Trimmed, empties
    * dropped; text after the last `;` is its own statement.
    */
  def splitStatements(sql: String): Seq[String] = {
    val (done, rest) = splitWithRemainder(sql)
    (done :+ rest).map(_.trim).filter(_.nonEmpty)
  }

  /** Like [[splitStatements]] but the text AFTER the last plain-text `;`
    * comes back verbatim as the remainder — the line protocol buffers it
    * until more input completes it (its former `endsWith(";")` test
    * split inside multi-line block comments and dollar bodies).
    */
  def splitWithRemainder(sql: String): (Seq[String], String) = {
    val st = scanStates(sql)
    val out = mutable.Buffer[String]()
    var from = 0
    var i = 0
    while (i < sql.length) {
      if (st(i) == StOut && sql(i) == ';') {
        out += sql.substring(from, i)
        from = i + 1
      }
      i += 1
    }
    (out.toSeq.map(_.trim).filter(_.nonEmpty), sql.substring(from))
  }

  /** Remove SQL comments OUTSIDE string literals — `-- ...` to end of
    * line and NESTED `/* ... */` blocks (pg and Spark both nest) — each
    * replaced by one space so token boundaries survive. Optimizer HINTS
    * (`/*+ ... */`, Spark syntax pg never emits) copy through verbatim.
    * Literal handling matches the other scanners: both quote kinds,
    * doubled-quote escapes. Applied ONCE at statement entry
    * (Engine.run), so every downstream quote-state machine — the
    * rewrites, the splitters, [[conformLiterals]] — sees comment-free
    * text: an apostrophe inside a comment ("/* client's hint */") used
    * to flip their quote state and misread (or mis-conform) every
    * literal after it.
    */
  def stripComments(sql: String): String = {
    if (sql.indexOf("--") < 0 && !sql.contains("/*")) return sql
    val st = scanStates(sql)
    val sb = new StringBuilder(sql.length)
    var i = 0
    while (i < sql.length) {
      st(i) match {
        case StLine =>
          while (i < sql.length && st(i) == StLine) i += 1
          sb += ' ' // comment (+ its newline) collapses to one space
          if (i < sql.length && sql(i) == '\n') i += 1
        case StBlock =>
          while (i < sql.length && st(i) == StBlock) i += 1
          sb += ' '
        case _ => sb += sql(i); i += 1 // payload, literals, $..$, hints
      }
    }
    sb.toString
  }

  /** pg → Spark literal translation: double every backslash INSIDE a
    * single-quoted literal, so Spark's C-style-escaping parser reads
    * exactly the bytes a standard_conforming_strings=on client wrote
    * ('' stays the one escape — untouched). Without this, a pg client's
    * 'C:\temp\new' silently stored a TAB and a NEWLINE. Double-quoted
    * segments pass through raw: they are Spark-native literal syntax
    * (pg clients never send them — double quotes are identifiers there)
    * and keep Spark's own escape semantics. Applied exactly once per
    * parse, at the [[graft.engine.Engine.inlineFunctions]] chokepoint —
    * never to text the engine consumes without Spark's parser (SET /
    * PRAGMA values, COPY options), whose literals are already raw.
    * (`spark.sql.parser.escapedStringLiterals=true` looks like the
    * switch for this, but it ALSO stops collapsing '' — probed on
    * Spark 4.1.2: 'it''s' comes back as two quote characters.)
    */
  def conformLiterals(sql: String): String = {
    if (sql.indexOf('\\') < 0) return sql
    val st = scanStates(sql)
    val sb = new StringBuilder(sql.length + 8)
    var i = 0
    while (i < sql.length) {
      // only single-quoted payload doubles; "..." keeps Spark's own
      // escapes, and a $tag$ body is raw payload the CREATE FUNCTION
      // capture conforms itself at splice time (Engine.scala:2089)
      if (sql(i) == '\\' && st(i) == StSq) sb.append("\\\\")
      else sb += sql(i)
      i += 1
    }
    sb.toString
  }

  /** Per-character bitmap: true where the character lies inside a
    * string literal — single- or double-quoted (quotes themselves and
    * doubled-quote escapes included; Spark's default dialect reads
    * `"..."` as a literal too). Lets regex-based probes/rewrites skip
    * matches whose START falls inside payload text that merely looks
    * like SQL.
    */
  def quotedMask(sql: String): Array[Boolean] = {
    val st = scanStates(sql)
    Array.tabulate(sql.length)(i =>
      st(i) == StSq || st(i) == StDq || st(i) == StDollar)
  }

  /** Replace each pgwire `$n` placeholder outside single- and
    * double-quoted text with `render(n)`.
    */
  def substituteParams(sql: String, render: Int => String): String =
    substituteParamsAt(sql, (n, _) => render(n))

  /** [[substituteParams]] whose `render` also learns whether the
    * placeholder sits directly after the word LIMIT or OFFSET (comments
    * and whitespace between them skipped) — a count, not a value.
    */
  def substituteParamsAt(sql: String, render: (Int, Boolean) => String): String = {
    lazy val st = scanStates(sql)
    def afterLimit(at: Int): Boolean = {
      var j = at - 1
      while (j >= 0 && (sql(j).isWhitespace || st(j) == StLine || st(j) == StBlock))
        j -= 1
      val end = j + 1
      while (j >= 0 && st(j) == StOut && (sql(j).isLetterOrDigit || sql(j) == '_'))
        j -= 1
      val w = sql.substring(j + 1, end)
      w.equalsIgnoreCase("limit") || w.equalsIgnoreCase("offset")
    }
    val out = new StringBuilder
    var i = 0
    var inStr = false
    var inIdent = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (!inStr && !inIdent && c == '$' && i + 1 < sql.length &&
          sql.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < sql.length && sql.charAt(j).isDigit) j += 1
        out.append(render(sql.substring(i + 1, j).toInt, afterLimit(i)))
        i = j
      } else {
        if (inStr) { if (c == '\'') inStr = false }
        else if (inIdent) { if (c == '"') inIdent = false }
        else if (c == '\'') inStr = true
        else if (c == '"') inIdent = true
        out.append(c)
        i += 1
      }
    }
    out.toString
  }

  /** Replace the first `regex` match that lies OUTSIDE string literals
    * (single- or double-quoted) with the literal `replacement`; matches
    * inside literals (with doubled-quote escapes) are skipped, so payload
    * text that merely looks like SQL can never be corrupted.
    */
  def replaceFirstOutsideQuotes(sql: String, regex: String,
      replacement: String): String = {
    val quoted = quotedMask(sql)
    val m = java.util.regex.Pattern.compile(regex).matcher(sql)
    while (m.find()) {
      if (!quoted(m.start))
        return sql.substring(0, m.start) + replacement + sql.substring(m.end)
    }
    sql
  }

  /** Index of the ')' matching the '(' at `open` (quote-aware). */
  def matchingParen(s: String, open: Int): Int = {
    var depth = 0; var q: Char = 0; var i = open
    while (i < s.length) {
      val ch = s(i)
      if (q != 0) {
        if (ch == q) {
          if (i + 1 < s.length && s(i + 1) == q) i += 1 else q = 0
        }
      } else ch match {
        case '\'' | '"' => q = ch
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException("unbalanced parentheses in statement")
  }

  /** Locate a top-level QUALIFY clause — depth-0, outside string literals,
    * word-bounded — and split the statement into (body-before-qualify,
    * predicate, trailing ORDER BY/LIMIT/OFFSET tail). A QUALIFY inside a
    * parenthesized subquery stays payload (depth > 0). Set operators at
    * the top level make "which branch owns the QUALIFY" ambiguous under a
    * textual rewrite, so that shape errors with a wrap-it hint instead of
    * guessing.
    */
  def splitQualify(q: String): Option[(String, String, String)] = {
    val lower = q.toLowerCase
    def wordAt(pos: Int, w: String): Boolean =
      lower.startsWith(w, pos) &&
        (pos == 0 || { val c = lower(pos - 1); !c.isLetterOrDigit && c != '_' }) &&
        (pos + w.length >= lower.length || {
          val c = lower(pos + w.length); !c.isLetterOrDigit && c != '_' })
    var depth = 0; var qc: Char = 0; var i = 0
    var qStart = -1 // index of the QUALIFY keyword
    var predEnd = -1 // index where the trailing ORDER BY/LIMIT/OFFSET begins
    var setOp = false
    while (i < q.length) {
      val ch = q(i)
      if (qc != 0) {
        if (ch == qc) {
          if (i + 1 < q.length && q(i + 1) == qc) i += 1 else qc = 0
        }
      } else ch match {
        case '\'' | '"' => qc = ch
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 =>
          if (qStart < 0 && wordAt(i, "qualify")) { qStart = i; i += 6 }
          else if (qStart >= 0 && predEnd < 0 &&
              (wordAt(i, "order") || wordAt(i, "limit") || wordAt(i, "offset")))
            predEnd = i
          else if (wordAt(i, "union") || wordAt(i, "intersect") ||
              (wordAt(i, "except") && {
                // `SELECT * EXCEPT (...)` is a select-list star modifier,
                // not a set operator — disambiguate by the preceding `*`
                var k = i - 1
                while (k >= 0 && q(k).isWhitespace) k -= 1
                k < 0 || q(k) != '*'
              }))
            setOp = true
        case _ =>
      }
      i += 1
    }
    if (qStart < 0) None
    else if (setOp) throw new IllegalArgumentException(
      "QUALIFY combined with a top-level set operator is ambiguous: " +
        "wrap the QUALIFY branch in a subquery")
    else {
      val end = if (predEnd < 0) q.length else predEnd
      val pred = q.substring(qStart + 7, end).trim
      if (pred.isEmpty) throw new IllegalArgumentException("QUALIFY requires a predicate")
      Some((q.substring(0, qStart).trim, pred,
        if (predEnd < 0) "" else q.substring(predEnd).trim))
    }
  }

  /** Rewrite a post-QUALIFY trailing clause so ORDER BY sort expressions
    * become references to hidden injected columns: returns (rewritten
    * trailing, select-list items to inject, their names to drop). Bare
    * positional indices (ORDER BY 1) stay positional — injections append
    * to the select list, so positions of the user's columns don't move.
    */
  def liftTrailingOrder(trailing: String): (String, Seq[String], Seq[String]) = {
    val lower = trailing.toLowerCase
    if (!lower.startsWith("order")) return (trailing, Nil, Nil)
    val byIdx = lower.indexOf("by") + 2
    // cut the sort list at a top-level LIMIT/OFFSET keyword
    var depth = 0; var q: Char = 0; var i = byIdx; var cut = -1
    while (i < trailing.length && cut < 0) {
      val ch = trailing(i)
      if (q != 0) {
        if (ch == q) {
          if (i + 1 < trailing.length && trailing(i + 1) == q) i += 1
          else q = 0
        }
      } else ch match {
        case '\'' | '"' => q = ch
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && {
          // both word boundaries: a sort column named `offset_ms` or
          // `limit2` is payload, not a clause keyword
          def kw(w: String) = lower.startsWith(w, i) &&
            !lower(i - 1).isLetterOrDigit && lower(i - 1) != '_' &&
            (i + w.length >= lower.length || {
              val c = lower(i + w.length); !c.isLetterOrDigit && c != '_' })
          kw("limit") || kw("offset")
        } => cut = i
        case _ =>
      }
      i += 1
    }
    val obList = trailing.substring(byIdx, if (cut < 0) trailing.length else cut)
    val tail = if (cut < 0) "" else trailing.substring(cut)
    val reItem = """(?is)^(.*?)((?:\s+(?:asc|desc))?(?:\s+nulls\s+(?:first|last))?)\s*$""".r
    val inject = mutable.Buffer[String](); val names = mutable.Buffer[String]()
    val rewritten = splitTopLevel(obList).zipWithIndex.map { case (item, k) =>
      val m = reItem.findFirstMatchIn(item).get
      val expr = m.group(1).trim
      if (expr.matches("\\d+")) item
      else {
        val nm = s"__graft_ob_${k + 1}"
        inject += s"($expr) AS $nm"; names += nm
        nm + m.group(2)
      }
    }
    (s"ORDER BY ${rewritten.mkString(", ")} $tail", inject.toSeq, names.toSeq)
  }

  /** Append `expr` to the outermost select list: insert before the first
    * top-level FROM (quote/paren-aware, so CTE bodies and subquery FROMs
    * don't fool it).
    */
  def injectSelectColumn(body: String, expr: String): String = {
    val lower = body.toLowerCase
    var depth = 0; var q: Char = 0; var i = 0
    while (i < body.length) {
      val ch = body(i)
      if (q != 0) {
        if (ch == q) {
          if (i + 1 < body.length && body(i + 1) == q) i += 1 else q = 0
        }
      } else ch match {
        case '\'' | '"' => q = ch
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && lower.startsWith("from", i) &&
            (i == 0 || !lower(i - 1).isLetterOrDigit && lower(i - 1) != '_') &&
            (i + 4 >= lower.length ||
              { val c = lower(i + 4); !c.isLetterOrDigit && c != '_' }) =>
          return body.substring(0, i) + s", $expr " + body.substring(i)
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException("QUALIFY requires a FROM clause")
  }

  /** Index of the first depth-0, unquoted, word-bounded occurrence of the
    * whitespace-separated word sequence (case-insensitive); -1 if absent.
    */
  def indexOfTopLevelPhrase(s: String, phrase: Seq[String]): Int = {
    val lower = s.toLowerCase
    def wordAt(pos: Int, w: String): Boolean =
      pos < lower.length && lower.startsWith(w, pos) &&
        (pos == 0 || { val c = lower(pos - 1); !c.isLetterOrDigit && c != '_' }) &&
        (pos + w.length >= lower.length || {
          val c = lower(pos + w.length); !c.isLetterOrDigit && c != '_' })
    var depth = 0; var q: Char = 0; var i = 0
    while (i < s.length) {
      val ch = s(i)
      if (q != 0) {
        if (ch == q) {
          if (i + 1 < s.length && s(i + 1) == q) i += 1 else q = 0
        }
      } else ch match {
        case '\'' | '"' => q = ch
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && wordAt(i, phrase.head) =>
          var j = i + phrase.head.length
          var ok = true
          phrase.tail.foreach { w =>
            while (j < s.length && s(j).isWhitespace) j += 1
            if (ok && wordAt(j, w)) j += w.length else ok = false
          }
          if (ok) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  def splitTopLevel(s: String): Seq[String] = {
    val parts = mutable.Buffer[String]()
    var depth = 0; var q: Char = 0; val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val ch = s(i)
      if (q != 0) {
        cur += ch
        if (ch == q) {
          if (i + 1 < s.length && s(i + 1) == q) { cur += q; i += 1 }
          else q = 0
        }
      } else ch match {
        // '"' too: Spark's default dialect reads "..." as a string
        // literal, so a comma inside it must not split the list
        case '\'' | '"' => q = ch; cur += ch
        case '(' => depth += 1; cur += ch
        case ')' => depth -= 1; cur += ch
        case ',' if depth == 0 => parts += cur.toString; cur.clear()
        case c => cur += c
      }
      i += 1
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.toSeq.map(_.trim).filter(_.nonEmpty)
  }
}
