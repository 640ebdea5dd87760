package graft

import org.scalatest.funsuite.AnyFunSuite

/** The lexical rules every SQL-text rewrite shares ([[graft.SqlText]]),
  * table by table: what a literal, a quoted identifier and a comment
  * are, and how parens, keywords and separators are found around them. */
class SqlTextSpec extends AnyFunSuite {

  test("skip ends literals, quoted identifiers and comments where the lexer does") {
    val cases = Seq(
      // text, start, end
      ("'abc' x", 0, 5),
      ("'it''s' x", 0, 7),               // a doubled quote continues the literal
      ("'it\\'s' x", 0, 7),              // a backslash escapes the quote
      ("\"a\\\"b\" x", 0, 6),
      ("\"a\"\"b\" x", 0, 6),
      ("`a``b` x", 0, 6),                // a doubled backtick is one backtick
      ("`a\\` x", 0, 4),                 // no backslash escapes in identifiers
      ("-- it's (\nx", 0, 9),            // a line comment ends before its newline
      ("-- it's (", 0, 9),
      ("/* it's ( */x", 0, 12),
      ("/* it's (", 0, 9),               // unterminated: runs to the end
      ("'it''s ( --", 0, 11),
      ("x 'a'", 0, 0),                   // code: no skip
      ("a - b", 2, 2),
      ("a / b", 2, 2))
    cases.foreach { case (s, i, end) => assert(SqlText.skip(s, i) == end, s) }
  }

  test("matchParen skips parens inside literals, identifiers and comments") {
    val cases = Seq(
      ("(a, (b), 'c)') x", 13),
      ("(a, 'it''s)', 'it\\'s)') x", 22),
      ("(a -- )\n) x", 8),
      ("(/* ) */ a)", 10),
      ("(`a)b` )", 7),
      ("(a, 'b)", -1),                   // unterminated literal
      ("((a)", -1))
    cases.foreach { case (s, close) => assert(SqlText.matchParen(s, 0) == close, s) }
  }

  test("keywords are found at depth 0, case-insensitively, between identifier boundaries") {
    val cases = Seq(
      ("SELECT a FROM t", "FROM", 9),
      ("select 'from', `from`, \"from\", x -- from\n/* from */ from t", "FROM", 52),
      ("SELECT (SELECT 1 FROM u) FROM t", "FROM", 25),
      ("SELECT fromage, from_x, x.from1 FROM t", "FROM", 32),
      ("SELECT 1 /* it's */ FROM t", "FROM", 20),
      ("a as b", "AS", 2),
      ("SELECT 'FROM'", "FROM", -1))
    cases.foreach { case (s, w, at) => assert(SqlText.keyword(s, w) == at, s) }
    assert(SqlText.keyword("a ON b ON c", "ON", 3) == 7)
    assert(SqlText.keywords("a AND (b AND c) AND 'x AND y' AND d", "AND") == Vector(2, 16, 30))
    assert(SqlText.keywords("x WHERE y ORDER BY z", "order", "where") == Vector(2, 10))
  }

  test("split cuts at depth-0 separators only and keeps the pieces verbatim") {
    val cases = Seq(
      ("a, f(b, c), 'd, e', `f,g`", ',', false, Seq("a", " f(b, c)", " 'd, e'", " `f,g`")),
      ("s = 'a,b', n = 1", ',', false, Seq("s = 'a,b'", " n = 1")),
      ("a INT COMMENT 'x, y', b STRING", ',', true, Seq("a INT COMMENT 'x, y'", " b STRING")),
      ("a INT COMMENT 'a<b', b STRING", ',', true, Seq("a INT COMMENT 'a<b'", " b STRING")),
      ("x map<string,int>, y int", ',', true, Seq("x map<string,int>", " y int")),
      ("x map<string,int>, y int", ',', false, Seq("x map<string", "int>", " y int")),
      ("a, 'b, c", ',', false, Seq("a", " 'b, c")),
      ("", ',', false, Seq("")),
      ("a;b -- c;d\n;'e;f';", ';', false, Seq("a", "b -- c;d\n", "'e;f'", "")),
      // a `;` ends a statement: an unbalanced paren does not carry past it
      ("select (a; select 1", ';', false, Seq("select (a", " select 1")))
    cases.foreach { case (s, sep, angle, want) =>
      assert(SqlText.split(s, sep, angle) == want, s)
    }
  }
}
