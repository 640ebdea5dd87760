package graft.hplsql

import graft.SqlText

/** Offline dialect-DDL conversion — the reference's `-offline` mode
  * (hplsql/src/main/java/org/apache/hive/hplsql/Converter.java:37
  * dataType; Meta.java:174 normalizeIdentifier/getTargetSchemaName;
  * Stmt.createTable:129 re-emission): foreign-warehouse CREATE TABLE
  * statements (SQL Server, Oracle, MySQL, PostgreSQL, Teradata) are
  * TRANSLATED to engine DDL and returned, not executed — the
  * migration-assessment tool a warehouse team runs over their existing
  * DDL dump before moving.
  *
  * Faithful rules (each pinned by OfflineReplaySpec against the
  * reference's committed outputs):
  *  - types: BIT→TINYINT, INT2/4/8→SMALLINT/INT/BIGINT,
  *    DATETIME/SMALLDATETIME→TIMESTAMP, VARCHAR|NVARCHAR(MAX)→STRING,
  *    VARCHAR2/NCHAR/NVARCHAR/TEXT→STRING (length dropped),
  *    NUMBER/NUMERIC→DECIMAL(keeping precision), INT(n)→INT (MySQL
  *    display width dropped), everything else verbatim with its length.
  *  - identifiers: `[x]` and `"x"` become backticked; a `dbo` schema
  *    part is dropped (SQL Server's default schema has no analog).
  *  - column attributes (NOT NULL, IDENTITY, DEFAULT, ENABLE, ...) and
  *    whole constraint items (CONSTRAINT/PRIMARY KEY/FOREIGN KEY/
  *    UNIQUE/CHECK/KEY/INDEX) are dropped — the engine's constraint
  *    surface is the separate informational-DDL lane (plans/
  *    Constraints), not inline storage DDL.
  *  - table pre-options (Teradata `, NO LOG, NO FALLBACK`) and
  *    post-options (ENGINE=, TABLESPACE, STORAGE(...), ON [PRIMARY])
  *    are dropped; MySQL `COMMENT='x'` survives as Hive `COMMENT 'x'`.
  *  - original layout (whitespace, case of unconverted tokens) is
  *    preserved exactly as the reference's token-slice emission does.
  *
  * Pure text transformation — no session, no catalog, scale-free.
  */
object DialectDdl {

  private val CreateRe =
    """(?is)CREATE\s+(?:(?:SET|MULTISET)\s+)?(?:VOLATILE\s+)?(?:GLOBAL\s+|LOCAL\s+)?(?:TEMPORARY\s+)?TABLE\b""".r

  private val ConstraintStarters =
    Set("CONSTRAINT", "PRIMARY", "FOREIGN", "UNIQUE", "CHECK", "KEY", "INDEX")

  /** All CREATE TABLE statements in `script`, converted. Statements the
    * converter cannot shape (CTAS etc.) are skipped. */
  def convertScript(script: String): Seq[String] =
    CreateRe.findAllMatchIn(script).flatMap { m =>
      convertFrom(script, m.start)
    }.toSeq

  /** Convert one CREATE TABLE starting at `start`; None when the
    * statement is not a plain column-list CREATE TABLE. */
  private def convertFrom(text: String, start: Int): Option[String] = {
    var i = CreateRe.findPrefixMatchOf(text.substring(start)).get.end + start

    def skipWs(j0: Int): Int = { var j = j0; while (j < text.length && text(j).isWhitespace) j += 1; j }

    // IF NOT EXISTS, verbatim
    i = skipWs(i)
    val afterTable = i
    if (text.regionMatches(true, i, "IF", 0, 2)) {
      val m = """(?is)IF\s+NOT\s+EXISTS\s*""".r.findPrefixMatchOf(text.substring(i))
      m.foreach(mm => i += mm.end)
    }

    // qualified name: part (. part)*
    val nameStart = i
    val (parts, nameEnd) = parseQualifiedName(text, i)
    if (parts.isEmpty) return None
    i = nameEnd

    // between name and the defining '(' — pre-options (dropped) except
    // the whitespace glued to the '('; an AS on the way = CTAS (skip)
    val open = text.indexOf('(', i)
    if (open < 0) return None
    val between = text.substring(i, open)
    if ("""(?is)(^|\W)AS(\W|$)""".r.findFirstIn(between).isDefined) return None
    val wsBeforeParen = between.reverse.takeWhile(_.isWhitespace).reverse

    // column list: split at depth-0 commas up to the matching ')'
    val close = SqlText.matchParen(text, open)
    if (close < 0) return None
    val items = SqlText.split(text.substring(open + 1, close))

    val kept = items.flatMap(convertColumnItem)
    if (kept.isEmpty) return None
    val closeWs = items.last.reverse.takeWhile(_.isWhitespace).reverse

    // post-options: dropped except MySQL COMMENT='x' -> COMMENT 'x'
    val tail = text.substring(close + 1,
      math.min(text.length, endOfStatement(text, close + 1)))
    val comment = """(?is)COMMENT\s*=\s*('(?:[^']|'')*')""".r
      .findFirstMatchIn(tail).map(m => " COMMENT " + m.group(1)).getOrElse("")

    Some(text.substring(start, afterTable) +
      text.substring(afterTable, nameStart) +
      normalizeQualified(parts) + wsBeforeParen + "(" +
      kept.mkString(",") + closeWs + ")" + comment)
  }

  private def endOfStatement(text: String, from: Int): Int = {
    val semi = SqlText.find(text, from)(text(_) == ';')
    val go = """(?im)^\s*GO\s*$""".r.findFirstMatchIn(text.substring(from))
      .map(_.start + from).getOrElse(Int.MaxValue)
    math.min(if (semi < 0) Int.MaxValue else semi, go) match {
      case Int.MaxValue => text.length
      case n => n
    }
  }

  /** `[x]` | `"x"` | backticked | bare, dot-joined. Returns raw parts. */
  private def parseQualifiedName(text: String, from: Int): (Seq[String], Int) = {
    var i = from
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var more = true
    while (more && i < text.length) {
      text(i) match {
        case '[' =>
          val e = text.indexOf(']', i); if (e < 0) return (Nil, from)
          parts += text.substring(i, e + 1); i = e + 1
        case '"' =>
          val e = text.indexOf('"', i + 1); if (e < 0) return (Nil, from)
          parts += text.substring(i, e + 1); i = e + 1
        case '`' =>
          val e = text.indexOf('`', i + 1); if (e < 0) return (Nil, from)
          parts += text.substring(i, e + 1); i = e + 1
        case c if c.isLetter || c == '_' =>
          val s = i
          while (i < text.length && (text(i).isLetterOrDigit || text(i) == '_')) i += 1
          parts += text.substring(s, i)
        case _ => return (Nil, from)
      }
      if (i < text.length && text(i) == '.') i += 1 else more = false
    }
    (parts.toSeq, i)
  }

  /** Meta.normalizeIdentifierPart: "x" and [x] become `x`. */
  private def normalizePart(p: String): String =
    if ((p.startsWith("[") && p.endsWith("]")) ||
        (p.startsWith("\"") && p.endsWith("\"")))
      "`" + p.substring(1, p.length - 1) + "`"
    else p

  /** Meta.normalizeIdentifier: schema part named dbo is dropped. */
  private def normalizeQualified(parts: Seq[String]): String = {
    val kept =
      if (parts.length >= 2 &&
          parts(parts.length - 2).replaceAll("[\\[\\]\"`]", "")
            .equalsIgnoreCase("dbo"))
        parts.patch(parts.length - 2, Nil, 1)
      else parts
    kept.map(normalizePart).mkString(".")
  }

  /** One column item -> leading ws + name + ws + converted type;
    * None for constraint items. */
  private def convertColumnItem(item: String): Option[String] = {
    val lead = item.takeWhile(_.isWhitespace)
    var i = lead.length
    if (i >= item.length) return None
    val (nameParts, nameEnd) = parseQualifiedName(item, i)
    if (nameParts.isEmpty) return None
    val bare = nameParts.head.replaceAll("[\\[\\]\"`]", "").toUpperCase
    if (ConstraintStarters(bare)) return None
    i = nameEnd
    val ws = item.substring(i).takeWhile(_.isWhitespace)
    i += ws.length
    if (i >= item.length) return None // bare word, not a column def

    // type token, possibly [bracketed]
    val (tParts, tEnd) = parseQualifiedName(item, i)
    if (tParts.isEmpty) return None
    val rawType = tParts.head
    val typeName = rawType.replaceAll("[\\[\\]\"`]", "")
    i = tEnd
    // optional (len) glued or space-separated
    var k = i
    while (k < item.length && item(k).isWhitespace) k += 1
    var lenText: Option[String] = None
    if (k < item.length && item(k) == '(') {
      val e = item.indexOf(')', k)
      if (e > 0) { lenText = Some(item.substring(k, e + 1)) }
    }

    val up = typeName.toUpperCase
    val lenIsMax = lenText.exists(_.replaceAll("[()\\s]", "").equalsIgnoreCase("MAX"))
    val converted = up match {
      case "BIT" => "TINYINT"
      case "INT" | "INTEGER" => typeName // display width dropped, case kept
      case "INT2" => "SMALLINT"
      case "INT4" => "INT"
      case "INT8" => "BIGINT"
      case "DATETIME" | "SMALLDATETIME" => "TIMESTAMP"
      case "VARCHAR" | "NVARCHAR" if lenIsMax => "STRING"
      case "VARCHAR2" | "NCHAR" | "NVARCHAR" | "TEXT" => "STRING"
      case "NUMBER" | "NUMERIC" => "DECIMAL" + lenText.getOrElse("")
      case _ => typeName + lenText.getOrElse("")
    }
    Some(lead + normalizeQualified(nameParts) + ws + converted)
  }
}
