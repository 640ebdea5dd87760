package graft

/** The one place that decides, in SQL text, what is code and what is a
  * literal or a comment — the job the reference's single lexer
  * (ql/src/java/org/apache/hadoop/hive/ql/parse/HiveLexer.g) does for
  * every rewrite that works on its tokens. Every SQL-text rewrite in
  * graft (QUALIFY and comma-LIMIT, multi-insert, matchpath, Hive DDL and
  * DML compat, the .q statement splitter, dialect DDL) scans with these
  * rules:
  *
  *  - `'…'` and `"…"` are string literals with backslash escapes (Hive's
  *    `StringLiteral` and Spark's string lexer agree); a doubled quote
  *    continues the literal, as adjacent literals do in Hive's lexer.
  *  - `` `…` `` is a quoted identifier; a doubled backtick is one
  *    backtick inside it.
  *  - `--` runs to the end of the line, and `/* … */` is a comment.
  *  - An unterminated literal or comment runs to the end of the text.
  *
  * Code outside them is scanned at paren depth; "depth 0" is relative
  * to where a scan starts, and a `;` ends a statement, so it is always
  * at depth 0 and an unbalanced paren never carries past it. */
private[graft] object SqlText {

  /** End (exclusive) of the literal, quoted identifier or comment that
    * starts at `i`, else `i`. A line comment ends before its newline. */
  def skip(s: String, i: Int): Int = {
    val n = s.length
    s.charAt(i) match {
      case q @ ('\'' | '"' | '`') =>
        var j = i + 1
        while (j < n) {
          val c = s.charAt(j)
          if (c == '\\' && q != '`') j += 2
          else if (c != q) j += 1
          else if (j + 1 < n && s.charAt(j + 1) == q) j += 2
          else return j + 1
        }
        n
      case '-' if i + 1 < n && s.charAt(i + 1) == '-' =>
        s.indexOf('\n', i) match { case -1 => n; case e => e }
      case '/' if i + 1 < n && s.charAt(i + 1) == '*' =>
        s.indexOf("*/", i + 2) match { case -1 => n; case e => e + 2 }
      case _ => i
    }
  }

  /** First code offset from `from` at depth 0 for which `p` holds, -1 if
    * none. With `angle`, `<` and `>` nest like parens (type lists such
    * as `map<string,string>`). */
  def find(s: String, from: Int = 0, angle: Boolean = false)(p: Int => Boolean): Int = {
    var depth = 0
    var i = from
    while (i < s.length) {
      val e = skip(s, i)
      if (e > i) i = e
      else {
        val c = s.charAt(i)
        if (c == ';') depth = 0
        if (depth == 0 && p(i)) return i
        if (c == '(' || angle && c == '<') depth += 1
        else if (c == ')' || angle && c == '>') depth -= 1
        i += 1
      }
    }
    -1
  }

  /** Offset of the `)` that closes the `(` at `open`, -1 if unbalanced. */
  def matchParen(s: String, open: Int): Int = find(s, open + 1)(s.charAt(_) == ')')

  /** First depth-0 occurrence from `from` of the keyword `word`, matched
    * case-insensitively and bounded by non-identifier characters; -1 if
    * none. */
  def keyword(s: String, word: String, from: Int = 0): Int = find(s, from)(wordAt(s, _, word))

  /** Offsets of every depth-0 occurrence of any of `words`, in order. */
  def keywords(s: String, words: String*): Vector[Int] = {
    val out = Vector.newBuilder[Int]
    find(s) { i => if (words.exists(wordAt(s, i, _))) out += i; false }
    out.result()
  }

  /** `s` cut at every depth-0 `sep`; the pieces are verbatim, so n
    * separators give n + 1 pieces. */
  def split(s: String, sep: Char = ',', angle: Boolean = false): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    find(s, 0, angle) { i =>
      if (s.charAt(i) == sep) { out += s.substring(start, i); start = i + 1 }
      false
    }
    (out += s.substring(start)).result()
  }

  private def wordAt(s: String, i: Int, w: String): Boolean =
    s.regionMatches(true, i, w, 0, w.length) &&
      (i == 0 || !isIdent(s.charAt(i - 1))) &&
      (i + w.length >= s.length || !isIdent(s.charAt(i + w.length)))

  private def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_'
}
