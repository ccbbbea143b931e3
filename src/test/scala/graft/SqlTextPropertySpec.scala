package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.engine.SqlText

/** Property-based invariants for the engine's pure SQL-text scanners —
  * the hand-rolled quote/paren-aware walkers behind QUALIFY, the
  * information_schema rewrite, and COPY (query) parsing. Adversarial
  * inputs (keywords inside literals, '' escapes, deep nesting) are
  * exactly where scanners break.
  */
object SqlTextPropertySpec extends Properties("SqlText") {

  // words, literals with escaped quotes, parens, separators — no bare
  // quote chars outside the literal generator, so inputs stay balanced.
  // Double-quoted forms included: Spark's default dialect reads "..."
  // as a string literal too, so the scanners must protect it equally
  // (r17 — the pg_settings rewrite used to corrupt "pg_settings").
  private val literal: Gen[String] = Gen.oneOf(
    "'a b'", "'it''s'", "'qualify'", "'order by limit'", "''",
    "'union (select)'", "'information_schema.tables'",
    "\"a b\"", "\"it\"\"s\"", "\"pg_settings\"", "\"\"",
    "'has \" inside'", "\"has ' inside\"")
  private val word: Gen[String] = Gen.oneOf(
    "select", "col", "t1", "sum(x)", "1", "=", ",", "from", "where")
  private val atom: Gen[String] = Gen.frequency(3 -> word, 1 -> literal)
  private val sqlGen: Gen[String] =
    Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, atom)).map(_.mkString(" "))

  property("mapOutsideQuotes with identity is the identity") =
    forAll(sqlGen) { s => SqlText.mapOutsideQuotes(s, identity) == s }

  // quotedMask is load-bearing for five rewrites (sequence fns,
  // current_setting/version, pg_settings rename, Engine.isReadOnly):
  // it must mark EXACTLY the literal spans — agreeing with
  // mapOutsideQuotes, whose outside-segments are by construction the
  // unmasked characters
  property("quotedMask marks exactly what mapOutsideQuotes protects") =
    forAll(sqlGen) { s =>
      val mask = SqlText.quotedMask(s)
      // rebuild the outside text two ways: (a) unmasked chars, (b) the
      // segments mapOutsideQuotes hands to its callback
      val viaMask = s.zipWithIndex.collect {
        case (c, i) if !mask(i) => c }.mkString
      val sb = new StringBuilder
      SqlText.mapOutsideQuotes(s, seg => { sb.append(seg); seg })
      viaMask == sb.toString
    }

  property("quotedMask masks every quote char and all literal interiors") =
    forAll(sqlGen) { s =>
      val mask = SqlText.quotedMask(s)
      s.zipWithIndex.forall { case (c, i) =>
        (c != '\'' && c != '"') || mask(i) }
    }

  property("stripComments removes comments, keeps literals and hints") =
    forAll(Gen.oneOf(
      ("select 1 -- tail", "select 1  "),
      ("-- lead\nselect 2", " select 2"),
      ("select '--x' as a", "select '--x' as a"),
      ("select '/* lit */' as a", "select '/* lit */' as a"),
      ("/* a'b */ select 'x'", "  select 'x'"),
      ("select /* a /* nested */ c */ 1", "select   1"),
      ("select /*+ REPARTITION(2) */ x from t",
        "select /*+ REPARTITION(2) */ x from t"),
      ("select 'a' /* unterminated", "select 'a'  "),
      ("select \"a--b\"", "select \"a--b\""))) { case (in, want) =>
      SqlText.stripComments(in) == want
    }

  property("stripComments then conformLiterals never mis-conforms after a commented apostrophe") =
    forAll(Gen.oneOf("client's hint", "don''t", "a -- b")) { c =>
      val sql = s"/* $c */ insert into t values ('C:\\temp')"
      SqlText.conformLiterals(SqlText.stripComments(sql)) ==
        s"  insert into t values ('C:\\\\temp')"
    }

  property("conformLiterals doubles backslashes inside single quotes ONLY") =
    forAll(Gen.oneOf(
      ("select 'a\\b' as x", "select 'a\\\\b' as x"),
      ("update t set v = 'C:\\temp' where k = 1",
        "update t set v = 'C:\\\\temp' where k = 1"),
      ("select \"a\\nb\"", "select \"a\\nb\""), // Spark-native syntax: raw
      ("select 'it''s \\' || 'x'", "select 'it''s \\\\' || 'x'"),
      ("select '\\' as a, b", "select '\\\\' as a, b"),
      ("select x \\ y", "select x \\ y"))) { case (in, want) =>
      SqlText.conformLiterals(in) == want
    }

  property("conformLiterals never moves literal boundaries") =
    forAll(sqlGen) { s =>
      // backslash-free inputs are untouched, and the masked structure of
      // any input survives conformance (content-only rewrite)
      val out = SqlText.conformLiterals(s)
      out == s || SqlText.quotedMask(out).count(identity) >=
        SqlText.quotedMask(s).count(identity)
    }

  property("rewrites never fire inside a double-quoted literal") =
    forAll(Gen.oneOf("\"pg_settings\"", "\"x pg_settings y\"",
        "\"it\"\"s pg_settings\"")) { lit =>
      val sql = s"select * from pg_settings where name = $lit"
      val out = SqlText.mapOutsideQuotes(sql,
        _.replaceAll("(?i)\\bpg_settings\\b", "V"))
      out == s"select * from V where name = $lit"
    }

  property("mapOutsideQuotes never touches literal contents") =
    forAll(sqlGen) { s =>
      val mapped = SqlText.mapOutsideQuotes(s, _.toUpperCase)
      // lowercasing both forms back equalizes the segment transformation,
      // so any difference would have come from inside a literal
      mapped.toLowerCase == s.toLowerCase &&
        SqlText.mapOutsideQuotes(mapped, _.toLowerCase) ==
          SqlText.mapOutsideQuotes(s, _.toLowerCase)
    }

  property("rewriteQualify is the identity when qualify only sits in literals") =
    forAll(sqlGen) { s =>
      // sqlGen never emits a bare `qualify` word; any occurrence is
      // inside a literal atom, so the rewrite must not fire
      SqlText.rewriteQualify(s) == s
    }

  property("replaceFirstOutsideQuotes replaces the structural FROM, not payload") =
    forAll(Gen.oneOf("'from t9'", "' from t9 '", "'it''s from t9'",
        "'FROM t9 order by x limit 1'")) { lit =>
      val sql = s"select $lit as p from t9 order by x"
      SqlText.replaceFirstOutsideQuotes(sql,
        "(?i)\\bfrom\\s+t9\\b", "from V") == s"select $lit as p from V order by x"
    }

  property("replaceFirstOutsideQuotes is the identity when every match is quoted") =
    forAll(Gen.oneOf("select 'from t9' as a", "select 'x from t9 y'",
        "select '' || ' from  t9'")) { sql =>
      SqlText.replaceFirstOutsideQuotes(sql, "(?i)\\bfrom\\s+t9\\b", "from V") == sql
    }

  property("replaceFirstOutsideQuotes with a non-matching regex is the identity") =
    forAll(sqlGen) { s =>
      SqlText.replaceFirstOutsideQuotes(s, "zzz_never_matches", "X") == s
    }

  private val nested: Gen[String] = {
    def lvl(depth: Int): Gen[String] =
      if (depth == 0) Gen.oneOf("x", "1", "'a(b'", "'it''s)'")
      else Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, lvl(depth - 1)))
        .map(parts => "(" + parts.mkString(" ") + ")")
    lvl(3)
  }

  property("matchingParen returns the structural close, not one in a literal") =
    forAll(nested) { s =>
      val close = SqlText.matchingParen(s, 0)
      // the close is the final char of the balanced group we generated
      close == s.length - 1 && s(close) == ')'
    }

  property("splitTopLevel round-trips comma-free parts") =
    forAll(Gen.listOfN(3, sqlGen.map(_.replace(",", "")))) { parts =>
      val cleaned = parts.map(_.trim).filter(_.nonEmpty)
      SqlText.splitTopLevel(cleaned.mkString(" , ")) == cleaned
    }

  private val unnestForm: Gen[(String, String)] = for {
    arr <- Gen.oneOf("arr", "array(1, 2)", "array(id, id * 2)",
      "split(s, ',')")
    alias <- Gen.oneOf("", " as u", " u", " as u(v, o)", " u(v, o)",
      " AS U ( V , O )")
  } yield (arr, s"unnest($arr) with ordinality$alias")

  property("rewriteUnnestOrdinality is the identity without the keyword pair") =
    forAll(sqlGen) { s => SqlText.rewriteUnnestOrdinality(s) == s }

  property("rewriteUnnestOrdinality rewrites every structural form") =
    forAll(unnestForm) { case (arr, u) =>
      val out = SqlText.rewriteUnnestOrdinality(s"select 1 from t, $u where x = 1")
      out.contains(s"posexplode($arr)") && out.contains("pos + 1") &&
        out.contains("lateral (select col as") &&
        !out.toLowerCase.matches("(?s).*\\bwith\\s+ordinality\\b.*") &&
        out.endsWith("where x = 1") // the statement tail survives intact
    }

  property("rewriteUnnestOrdinality never fires inside a string literal") =
    forAll(unnestForm) { case (_, u) =>
      val s = s"select '$u' from t"
      SqlText.rewriteUnnestOrdinality(s) == s
    }

  property("rewriteUnnestOrdinality leaves a bare unnest (no ordinality) alone") =
    forAll(Gen.oneOf("select unnest(array(1,2))",
      "select a from t, unnest(arr) u",
      "select unnest(x) as u from t where ordinality = 1")) { s =>
      SqlText.rewriteUnnestOrdinality(s) == s
    }

  // ---- dollar quoting + the shared splitter (r18) -------------------------

  private val dollarBody: Gen[String] = Gen.oneOf(
    "select 'it''s'", "a -- not a comment", "x /* not a comment */ y",
    "semi;colon", "back\\slash", "don't")
  private val dollarTag: Gen[String] = Gen.oneOf("$$", "$fn$", "$body_1$")

  property("stripComments keeps dollar-quoted payload verbatim") =
    forAll(dollarBody, dollarTag) { (b, t) =>
      val sql = s"create function f(x int) as $t$b$t"
      SqlText.stripComments(sql) == sql
    }

  property("conformLiterals never touches a dollar-quoted body") =
    forAll(dollarBody, dollarTag) { (b, t) =>
      val sql = s"create function f(x int) as $t$b$t language sql"
      SqlText.conformLiterals(sql) == sql
    }

  property("quotedMask masks dollar bodies; scanners agree after one") =
    forAll(dollarBody, dollarTag) { (b, t) =>
      val sql = s"select 1 ; $t$b$t ; select 'x''y' from t9"
      val mask = SqlText.quotedMask(sql)
      val span = sql.indexOf(t)
      // every char of the $tag$...$tag$ span is masked, and the rewrite
      // machinery downstream of it still sees the structural from
      (span until sql.lastIndexOf(t) + t.length).forall(mask) &&
        SqlText.replaceFirstOutsideQuotes(sql, "(?i)\\bfrom\\s+t9\\b",
          "from V").endsWith("from V")
    }

  property("splitStatements honors literals, comments and dollar bodies") =
    forAll(Gen.oneOf(
      ("select 1; select 2", Seq("select 1", "select 2")),
      ("select 'a;b'; select 2", Seq("select 'a;b'", "select 2")),
      ("select 1 /* a;b */; select 2", Seq("select 1 /* a;b */", "select 2")),
      ("select 1 /* a /* n;st */ b */; select 2",
        Seq("select 1 /* a /* n;st */ b */", "select 2")),
      ("create function f() as $q$x;y$q$; select 2",
        Seq("create function f() as $q$x;y$q$", "select 2")),
      ("select 1 -- t;ail\n; select 2", Seq("select 1 -- t;ail", "select 2")),
      ("select $1; select $2", Seq("select $1", "select $2")))) {
      case (in, want) => SqlText.splitStatements(in) == want
    }

  property("splitWithRemainder buffers an unterminated tail") =
    forAll(Gen.oneOf(
      ("select 1; select", (Seq("select 1"), " select")),
      ("select 1 /* note;", (Seq.empty[String], "select 1 /* note;")),
      ("select $$a;", (Seq.empty[String], "select $$a;")),
      ("select 'a; -- b", (Seq.empty[String], "select 'a; -- b")),
      ("select 1;", (Seq("select 1"), "")))) { case (in, want) =>
      SqlText.splitWithRemainder(in) == want
    }

  property("rewriteQualify eliminates every top-level QUALIFY keyword") =
    forAll(Gen.oneOf(
      "select a, b from t qualify row_number() over (order by b) = 1",
      "select a from t qualify rank() over (partition by a order by b) <= 2 order by a limit 3",
      "with c as (select a from t qualify f() = 1) select * from c",
      "select * from (select a from t qualify g() = 2) s qualify h() = 3")) { s =>
      val out = SqlText.rewriteQualify(s)
      // no QUALIFY keyword survives (these statements carry no literals,
      // so a plain word search is exact)
      !out.toLowerCase.matches("(?s).*\\bqualify\\b.*")
    }
}
