package graft.compat

import graft.SqlText

/** HiveQL CREATE TABLE → Spark datasource DDL (the reference's
  * SemanticAnalyzer DDL surface, ql/src/java/org/apache/hadoop/hive/ql/
  * parse/HiveParser.g createTableStatement): what a user migrating off
  * the reference runs first — their own DDL scripts. Spark without a
  * Hive metastore rejects `STORED AS` / `ROW FORMAT`, so this translates
  * the storage clauses onto `USING` datasources:
  *
  *  - `STORED AS ORC|PARQUET` → `USING orc|parquet`.
  *  - `STORED AS TEXTFILE` (and the bare default) with `ROW FORMAT
  *    DELIMITED` → `USING csv` with the LazySimpleSerDe conventions:
  *    field delimiter (default \\u0001), no quoting (LazySimpleSerDe has
  *    none), `\N` for NULL. Only needed when raw text FILES will be
  *    LOADed into the table — the caller says which tables those are —
  *    because otherwise the on-disk format is invisible to queries and
  *    parquet is the lossless choice (Java double/timestamp text
  *    round-trips are exact, so results match either way).
  *  - `PARTITIONED BY (p TYPE)` → partition columns appended to the
  *    schema + Spark's `PARTITIONED BY (p)`.
  *  - `CLUSTERED BY ... INTO n BUCKETS` passes through (same grammar).
  *
  * Throws IllegalArgumentException on shapes it cannot translate
  * faithfully (SERDE classes, SEQUENCEFILE/RCFILE text containers,
  * complex-typed text tables a csv reader cannot parse) — a loud decline,
  * never a silently different table. */
object HiveDdl {

  private val CreateRe =
    ("(?is)^\\s*create\\s+(temporary\\s+)?(external\\s+)?table\\s+" +
     "(if\\s+not\\s+exists\\s+)?([\\w.`]+)\\s*(.*)$").r

  /** Translate one HiveQL CREATE TABLE statement. `textTables` are the
    * tables raw text files will be LOADed into (lower-cased names) —
    * they get the csv serde mapping; everything else becomes parquet. */
  private val LikeRe =
    "(?is)^\\s*create\\s+(?:temporary\\s+)?(?:external\\s+)?table\\s+(if\\s+not\\s+exists\\s+)?([\\w.`]+)\\s+like\\s+([\\w.`]+)\\s*;?\\s*$".r

  /** Parsed CREATE TABLE pieces shared by the translation paths. */
  private final case class Parsed(ifNotExists: Boolean, name: String,
                                  cols: Option[String], tail: String,
                                  ctas: Option[String])

  private def parseCreate(stmt: String): Option[Parsed] = stmt match {
    case CreateRe(_, _, ine, name, rest0) =>
      val rest = rest0.trim.stripSuffix(";")
      // CTAS: everything after AS is the query (SELECT or WITH ... SELECT)
      val asIdx = indexOfKeyword(rest, "as select") match {
        case -1 => indexOfKeyword(rest, "as with")
        case i => i
      }
      val (head, ctas) =
        if (asIdx >= 0) (rest.substring(0, asIdx), Some(rest.substring(asIdx + 2).trim))
        else (rest, None)
      val cols = if (head.startsWith("(")) {
        val close = SqlText.matchParen(head, 0)
        require(close > 0, s"unbalanced column list in: $stmt")
        Some(head.substring(1, close))
      } else None
      val tail = cols.fold(head)(c => head.substring(head.indexOf('(') + c.length + 2))
      Some(Parsed(ine != null, name.replace("`", ""), cols, tail, ctas))
    case _ => None
  }

  def translate(stmt: String, textTables: Set[String] = Set.empty): String = stmt match {
    // CREATE TABLE ... LIKE: same statement in Spark
    case LikeRe(ine, name, src) =>
      s"CREATE TABLE ${if (ine != null) "IF NOT EXISTS " else ""}$name LIKE $src"
    case CreateRe(_, _, ifNotExists, name, rest0) =>
      val parsed = parseCreate(stmt).get
      val tableName = parsed.name
      val isLoadTarget = textTables.contains(tableName.toLowerCase)
      val cols = parsed.cols
      val ctas = parsed.ctas
      val tail = parsed.tail

      val fmt = storedAs(tail, isLoadTarget)
      val partCols = partitionedBy(tail)
      val clustered = clusteredBy(tail)
      val location = locationOf(tail)
      val container = containerFmt(tail)

      // a LOAD-target keeps the raw file's real format: text files need
      // the LazySimpleSerDe mapping; ORC/parquet LOADs move pre-made
      // files of that format in
      val serde = serdeOf(tail).map(_.split("\\.").last)
      val lazySerde = serde.contains("LazySimpleSerDe")
      if (isLoadTarget && lazySerde) checkLazyProps(tail, stmt)
      val wantsText = isLoadTarget && fmt.forall(_ == "textfile") &&
        serde.forall(_ == "LazySimpleSerDe")
      val using =
        if (container.isDefined) {
          // avro/rcfile/sequencefile containers: the table itself is
          // parquet (lossless stand-in); raw LOADs of files in these
          // formats are INGESTED by the caller through the vendored
          // readers (AvroIO/RcFileIO/sequence-text) — see
          // QTestReplay's LOAD lane
          "USING parquet"
        } else if (isLoadTarget && serde.exists(c => c == "JsonSerDe")) {
          // hcatalog/serde2 JsonSerDe: one JSON object per line — the
          // json datasource with the declared schema
          "USING json"
        } else if (isLoadTarget && serde.contains("OpenCSVSerde")) {
          val props = serdeProps(tail)
          // double-quoted serde property VALUES arrive SQL-escaped
          // ("escapeChar" = "\\" is one backslash)
          def un(v: String) = HiveRewrites.unescapeSqlBody(v)
          val sep = props.get("separatorChar").map(un).getOrElse(",")
          val quote = props.get("quoteChar").map(un).getOrElse("\"")
          val esc = props.get("escapeChar").map(un).getOrElse("\\")
          s"""USING csv OPTIONS (sep '${escape(sep)}', quote '${escape(quote)}', escape '${escape(esc)}', nullValue '\\u0000', emptyValue '')"""
        } else if (isLoadTarget && serde.isDefined && !lazySerde) {
          throw new IllegalArgumentException(
            s"custom SERDE class not translatable: ${serdeOf(tail).get} in: $stmt")
        } else if (!wantsText) fmt match {
          case Some("orc") => "USING orc"
          case Some("parquet") => "USING parquet"
          case Some("textfile") | None => "USING parquet" // format invisible without LOAD
          // a table no raw file is ever LOADed into only meets queries
          // through INSERT + SELECT, so its container (rcfile,
          // sequencefile, avro, ...) is result-invisible — parquet is
          // the lossless stand-in. A LOAD target must keep the real
          // format (a pre-made .rc/.avro file cannot be read as
          // parquet) and still declines below.
          case Some(_) if !isLoadTarget => "USING parquet"
          case Some(other) => throw new IllegalArgumentException(
            s"untranslatable STORED AS $other in: $stmt")
        } else {
          // the csv reader has no unquoted-field escaping — ESCAPED BY
          // targets go through the lines-table view instead; a csv-lane
          // arrival (INSERT-receiving or partitioned) declines loudly
          if (escapedByOf(tail).isDefined)
            throw new IllegalArgumentException(
              s"ESCAPED BY not reproducible by the csv mapping in: $stmt")
          val (sep, nullRep) = textFormat(tail, stmt)
          // LazySimpleSerDe: no quoting, \N nulls. csv needs SOME quote
          // char — NUL never occurs in the corpus data
          s"""USING csv OPTIONS (sep '${escape(sep)}', quote '\\u0000', nullValue '${escape(nullRep)}', emptyValue '')"""
        }

      // a columnless avro table takes its schema from avro.schema.literal
      // (AvroSerdeUtils.determineSchemaOrThrowException)
      val effCols = cols.orElse(
        if (container.contains("avro"))
          avroLiteralOf(tail).map(lit =>
            graft.sources.AvroIO.columnsOf(lit)
              .map { case (n, t) => s"`$n` $t" }.mkString(", "))
        else None)
      val colList = (effCols.toSeq ++ partCols.map { case (n, t) => s"$n $t" }).mkString(", ")
      require(colList.nonEmpty || ctas.isDefined, s"no columns in: $stmt")
      // csv cannot parse complex types back out of delimited text
      if (wantsText && cols.exists(c =>
            "(?i)\\b(array|map|struct|uniontype)\\s*<".r.findFirstIn(c).isDefined))
        throw new IllegalArgumentException(s"complex-typed text table in: $stmt")

      // ORC and container-format (avro/rcfile/sequencefile) tables
      // render struct fields LOWERCASED (vector_complex_all's and
      // avro_nullable_fields' goldens — the reference's serde OIs store
      // lowercased names); the parquet serde preserves the declared case
      val colListFmt =
        if (using == "USING orc" || container.isDefined)
          "(?<=[<,])\\s*([A-Za-z_]\\w*)\\s*:".r
            .replaceAllIn(colList, m => m.group(1).toLowerCase + ":")
        else colList

      val pb = if (partCols.nonEmpty)
        s" PARTITIONED BY (${partCols.map(_._1).mkString(", ")})" else ""
      // loaded raw files are never Spark-bucketed, and Spark validates
      // bucket files on read — a LOAD target must not declare buckets
      val cb = if (isLoadTarget) "" else clustered.fold("")(" " + _)
      // a container table's declared location holds RAW avro/rc/seq
      // files the parquet stand-in cannot read — the caller ingests
      // them instead (QTestReplay's CREATE lane), so the table itself
      // must not sit on that directory
      val loc = if (container.isDefined) ""
        else location.fold("")(l => s" LOCATION '$l'")
      val ine = if (ifNotExists != null) "IF NOT EXISTS " else ""

      ctas match {
        case Some(q) =>
          require(cols.isEmpty && partCols.isEmpty, s"CTAS with explicit schema in: $stmt")
          s"CREATE TABLE $ine$tableName $using$cb$loc $q"
        case None =>
          s"CREATE TABLE $ine$tableName ($colListFmt) $using$pb$cb$loc"
      }
    case _ => throw new IllegalArgumentException(s"not a CREATE TABLE: $stmt")
  }

  private def escape(s: String): String =
    s.flatMap {
      case '\u0001' => "\\u0001"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\\' => "\\\\"
      case '\'' => "\\'"
      case c => c.toString
    }

  /** (field separator, null representation) of a text LOAD target's ROW
    * FORMAT DELIMITED clause — the LazySimpleSerDe layout the csv reader
    * must reproduce. Subclauses the csv mapping cannot honor throw
    * (loud decline, never a silently different table):
    *  - ESCAPED BY: LazySimpleSerDe unescapes INSIDE unquoted fields;
    *    csv's escape option only applies within quoted values, so the
    *    read-back data would differ.
    *  - LINES TERMINATED BY other than '\n': the reference itself
    *    rejects it (SemanticAnalyzer "LINES TERMINATED BY only supports
    *    newline"), so accept the one legal spelling and refuse the rest.
    *  - COLLECTION ITEMS / MAP KEYS terminators only affect complex
    *    types, and complex-typed text tables are declined above — for
    *    primitive schemas they are invisible, so they pass through.
    * NULL DEFINED AS maps directly onto the csv nullValue option. */
  private def textFormat(tail: String, stmt: String): (String, String) = {
    "(?is)lines\\s+terminated\\s+by\\s+'([^']*)'".r.findFirstMatchIn(tail).foreach { m =>
      if (unescapeDelim(m.group(1), stmt) != "\n")
        throw new IllegalArgumentException(
          s"LINES TERMINATED BY only supports newline in: $stmt")
    }
    val props = serdeProps(tail)
    val sep = "(?is)fields\\s+terminated\\s+by\\s+'([^']*)'".r.findFirstMatchIn(tail)
      .map(m => unescapeDelim(m.group(1), stmt))
      // TestSerDe: ctrl-B default, 'testserde.default.serialization.
      // format' override — parsed as a BYTE NUMBER first, else the
      // literal string (TestSerDe.java:86-95)
      .orElse(if (serdeOf(tail).exists(_.endsWith("TestSerDe")))
        Some(props.get("testserde.default.serialization.format")
          .map(HiveRewrites.unescapeSqlBody).filter(_.nonEmpty)
          .map(f => if (f.forall(_.isDigit)) f.toInt.toChar.toString else f)
          .getOrElse("\u0002"))
      else None)
      .orElse(props.get("field.delim"))
      .orElse(props.get("serialization.format").filter(_.nonEmpty)
        .map(f => if (f.forall(_.isDigit)) f.toInt.toChar.toString else f))
      .getOrElse("\u0001")
    // NULL DEFINED AS takes a full SQL string, not a one-char delimiter:
    // `null defined as '\\N'` means the two characters \N (nullMap.q)
    val nullRep = "(?is)null\\s+defined\\s+as\\s+'([^']*)'".r.findFirstMatchIn(tail)
      .map(m => HiveRewrites.unescapeSqlBody(m.group(1)))
      .getOrElse(props.getOrElse("serialization.null.format", "\\N"))
    (sep, nullRep)
  }

  /** ESCAPED BY character, if declared (LazySimpleSerDe's escape byte;
    * serde2/lazy/LazySimpleSerDe — escape char before a field separator
    * makes it data, and `\\x` unescapes to `x` on read). */
  private[compat] def escapedByOf(tail: String): Option[String] =
    "(?is)escaped\\s+by\\s+'([^']*)'".r.findFirstMatchIn(tail)
      .map(m => unescapeDelim(m.group(1), tail))
      // ESCAPED BY '' declares no escaping — treat as absent instead of
      // letting downstream `.head` throw on the empty string
      .filter(_.nonEmpty)

  /** One delimiter char, unescaping the reference's spellings: '\t',
    * '\n', and `\ooo` OCTAL escapes (BaseSemanticAnalyzer
    * .unescapeSQLString — '\012' is newline, not char 12). */
  private def unescapeDelim(raw: String, stmt: String): String = raw match {
    case "\\t" => "\t"
    case "\\n" => "\n"
    case "\\r" => "\r"
    case s if s.startsWith("\\") && s.length >= 2 && s.length <= 4 &&
        s.drop(1).forall(c => c >= '0' && c <= '7') =>
      Integer.parseInt(s.drop(1), 8).toChar.toString
    case s if s.startsWith("\\") && s.drop(1).forall(_.isDigit) =>
      throw new IllegalArgumentException(s"non-octal delimiter escape '$raw' in: $stmt")
    case s if s.nonEmpty && s.forall(_.isDigit) && s.toInt <= 127 =>
      // LazyUtils.getByte: a NUMERIC delimiter string is the byte VALUE
      // ('9' is TAB, '10' is newline) — never the digit character
      s.toInt.toChar.toString
    case s => s
  }

  private def storedAs(tail: String, isLoadTarget: Boolean): Option[String] = {
    // a SERDE class only matters when raw FILES of that wire format are
    // LOADed; tables met solely through INSERT + SELECT keep their
    // declared serde invisible. Load targets dispatch on the class in
    // translate (LazySimpleSerDe/JsonSerDe/OpenCSVSerde translate;
    // anything else declines there).
    "(?is)stored\\s+as\\s+(\\w+)".r.findFirstMatchIn(tail).map(_.group(1).toLowerCase) match {
      case Some("directories") => None // SKEWED ... STORED AS DIRECTORIES
      // the harness registers CustomTextStorageFormatDescriptor, a
      // named alias for the plain text format (storage_format_descriptor)
      case Some("customtextserde") => Some("textfile")
      case other => other
    }
  }

  /** ROW FORMAT SERDE class name, if declared. */
  private[compat] def serdeOf(tail: String): Option[String] =
    "(?is)row\\s+format\\s+serde\\s+'([^']+)'".r.findFirstMatchIn(tail).map(_.group(1))

  /** WITH SERDEPROPERTIES ('k'='v', ...) as a map. */
  private[compat] def serdeProps(tail: String): Map[String, String] =
    "(?is)with\\s+serdeproperties\\s*\\(".r.findFirstMatchIn(tail).map { m =>
      val close = SqlText.matchParen(tail, m.end - 1)
      require(close > 0, "unbalanced SERDEPROPERTIES")
      locally {
        val body = tail.substring(m.end, close)
        val sq = "'([^']*)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(body)
          .map(p => p.group(1) -> p.group(2))
        // double-quoted spellings, escape-aware (serde_regex's
        // "input.regex" = "...\"...")
        val dq = ("\"((?:[^\"\\\\]|\\\\.)*)\"\\s*=\\s*" +
          "\"((?:[^\"\\\\]|\\\\.)*)\"").r.findAllMatchIn(body)
          .map(p => p.group(1) -> p.group(2))
        (sq ++ dq).toMap
      }
    }.getOrElse(Map.empty)

  /** TBLPROPERTIES ('k'='v', ...) as a map. */
  private[compat] def tblProps(tail: String): Map[String, String] =
    "(?is)tblproperties\\s*\\(".r.findFirstMatchIn(tail).map { m =>
      val close = SqlText.matchParen(tail, m.end - 1)
      require(close > 0, "unbalanced TBLPROPERTIES")
      locally {
        val body = tail.substring(m.end, close)
        val sq = "'([^']*)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(body)
          .map(p => p.group(1) -> p.group(2))
        // double-quoted spellings, escape-aware (serde_regex's
        // "input.regex" = "...\"...")
        val dq = ("\"((?:[^\"\\\\]|\\\\.)*)\"\\s*=\\s*" +
          "\"((?:[^\"\\\\]|\\\\.)*)\"").r.findAllMatchIn(body)
          .map(p => p.group(1) -> p.group(2))
        (sq ++ dq).toMap
      }
    }.getOrElse(Map.empty)

  private def avroLiteralOf(tail: String): Option[String] =
    (serdeProps(tail) ++ tblProps(tail)).get("avro.schema.literal")
      // the literal sits inside a single-quoted SQL string, so its JSON
      // quotes arrive escaped (\") — undo the SQL-literal escaping
      .map(HiveRewrites.unescapeSqlBody)
      // avro.schema.url: same contract, schema read from a (local) file
      // (AvroSerdeUtils.determineSchemaOrThrowException's url branch)
      .orElse((serdeProps(tail) ++ tblProps(tail)).get("avro.schema.url")
        .map(_.stripPrefix("file:")).filter(u => !u.contains("://"))
        .flatMap { u =>
          try Some(new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(u)), java.nio.charset.StandardCharsets.UTF_8))
          catch { case _: Exception => None }
        })

  /** Binary container format of a CREATE TABLE tail, when it declares
    * one — by STORED AS keyword, by INPUTFORMAT class, or by SERDE class
    * (the reference accepts all three spellings for the same container). */
  private def containerFmt(tail: String): Option[String] = {
    val serdeCls = serdeOf(tail).map(_.split("\\.").last)
    val sa = storedAsName(tail)
    val inputFmt = "(?is)stored\\s+as\\s+inputformat\\s+'([^']+)'".r
      .findFirstMatchIn(tail).map(_.group(1))
    if (serdeCls.contains("AvroSerDe") || sa.contains("avro") ||
        inputFmt.exists(_.contains("AvroContainer"))) Some("avro")
    else if (sa.contains("rcfile") || inputFmt.exists(_.contains("RCFile"))) Some("rcfile")
    else if (sa.contains("sequencefile") ||
        inputFmt.exists(_.contains("SequenceFile"))) Some("sequencefile")
    else None
  }

  /** (format, avro.schema.literal) of a container-backed CREATE TABLE —
    * the replay's LOAD lane dispatches raw-file ingestion on this. */
  def containerOf(stmt: String): Option[(String, Option[String])] =
    parseCreate(stmt).flatMap(p =>
      containerFmt(p.tail).map(f => (f, avroLiteralOf(p.tail))))

  /** (table, CLUSTERED BY column names) of a bucketed CREATE TABLE —
    * physical TABLESAMPLE(BUCKET x OUT OF y) rewrites key on these. */
  def clusteredColsOf(stmt: String): Option[(String, Seq[String])] =
    parseCreate(stmt).flatMap { p =>
      "(?is)clustered\\s+by\\s*\\(([^)]*)\\)".r.findFirstMatchIn(p.tail)
        .map(m => p.name -> m.group(1).split(",").map(_.trim.replace("`", "")).toSeq)
    }

  /** LazySimpleSerDe serdeproperties the text mapping can honor; any
    * other key is a loud decline. */
  private val LazyProps = Set("field.delim", "serialization.format",
    "serialization.null.format", "serialization.last.column.takes.rest",
    "collection.delim", "colelction.delim", "mapkey.delim", "line.delim",
    "serialization.encoding", "hive.serialization.extend.nesting.levels",
    "hive.serialization.extend.additional.nesting.levels")

  private def checkLazyProps(tail: String, stmt: String,
                             allowEncoding: Boolean = false): Unit = {
    val props = serdeProps(tail)
    val bad = props.keySet.filterNot(LazyProps)
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"LazySimpleSerDe properties $bad not translatable in: $stmt")
    props.get("line.delim").foreach { d =>
      if (d != "\n" && d != "\\n") throw new IllegalArgumentException(
        s"line.delim other than newline not translatable in: $stmt")
    }
    props.get("serialization.encoding").foreach { enc =>
      // the lines-table lane TRANSCODES at LOAD (QTestReplay's LOAD
      // lane reads the declared charset, writes UTF-8), so any JVM
      // charset is fine there; the csv lane still declines
      if (!enc.equalsIgnoreCase("utf-8") && !enc.equalsIgnoreCase("utf8") &&
          !(allowEncoding && java.nio.charset.Charset.isSupported(enc)))
        throw new IllegalArgumentException(
          s"non-UTF-8 serialization.encoding '$enc' not translatable in: $stmt")
    }
  }

  /** The declared non-UTF-8 serialization.encoding of a CREATE, if any
    * (LazySimpleSerDe decodes file bytes with it; encoding_nonutf8). */
  private[compat] def encodingOf(stmt: String): Option[String] =
    parseCreate(stmt)
      .flatMap(p => serdeProps(p.tail).get("serialization.encoding"))
      .filterNot(e => e.equalsIgnoreCase("utf-8") || e.equalsIgnoreCase("utf8"))

  /** (name, type) pairs of PARTITIONED BY — Hive declares types there. */
  private def partitionedBy(tail: String): Seq[(String, String)] =
    "(?is)partitioned\\s+by\\s*\\(".r.findFirstMatchIn(tail).map { m =>
      val open = m.end - 1
      val close = SqlText.matchParen(tail, open)
      require(close > 0, "unbalanced PARTITIONED BY")
      SqlText.split(tail.substring(open + 1, close), angle = true).map { c =>
        // the TYPE may carry parens/commas (decimal(8,4)) — take the
        // name, then everything up to an optional COMMENT as the type
        val t = c.trim
        val name = t.split("\\s+", 2).head
        val rest = t.drop(name.length).trim
        val typ = "(?is)\\s+comment\\s+'.*$".r.replaceFirstIn(rest, "")
        (name, if (typ.nonEmpty) typ else "string")
      }
    }.getOrElse(Nil)

  /** CLUSTERED BY (...) [SORTED BY (...)] INTO n BUCKETS — Spark speaks
    * the same grammar EXCEPT descending sort buckets; a DESC drops the
    * SORTED BY clause (bucket sort order is physical layout, invisible
    * to query results). */
  private def clusteredBy(tail: String): Option[String] =
    "(?is)clustered\\s+by\\s*\\(.*?into\\s+\\d+\\s+buckets".r.findFirstIn(tail).map { c =>
      if ("(?is)\\bdesc\\b".r.findFirstIn(c).isDefined)
        "(?is)sorted\\s+by\\s*\\([^)]*\\)".r.replaceFirstIn(c, "")
      else c
    }

  private def locationOf(tail: String): Option[String] =
    "(?is)location\\s+'([^']*)'".r.findFirstMatchIn(tail).map(_.group(1))

  private def indexOfKeyword(s: String, kw: String): Int = {
    val re = ("(?is)\\b" + kw.replace(" ", "\\s+") + "\\b").r
    re.findFirstMatchIn(s).map(m => m.start).getOrElse(-1)
  }

  // ------------------------------------------------------------------ //
  // Text LOAD targets as a lines table + LazySimpleSerDe parsing view   //
  // ------------------------------------------------------------------ //

  /** Should `stmt`'s table be backed by a `USING text` lines table plus
    * a parsing VIEW instead of the csv mapping? Yes for text LOAD
    * targets that never receive INSERTs (a view takes no inserts):
    * the text source preserves what csv cannot — empty lines (a NULL
    * row in LazySimpleSerDe), NUL bytes in data (csv needs a quote
    * char), and complex-typed columns (nested-delimiter parsing). */
  def viewBacked(stmt: String, textTables: Set[String],
                 insertTargets: Set[String] = Set.empty): Boolean =
    parseCreate(stmt).exists { p =>
      (textTables.contains(p.name.toLowerCase) ||
        // an explicit LOCATION can be fed externally (dfs -put) — raw
        // text only a text reader preserves
        locationOf(p.tail).isDefined) &&
        p.ctas.isEmpty && p.cols.isDefined &&
        // partitioned tables take ALTER ADD PARTITION / per-partition
        // LOADs, which a view cannot host — except header/footer
        // tables, whose per-file line skipping only the view lane can
        // express (the replay retargets ADD PARTITION to the lines
        // table)
        (partitionedBy(p.tail).isEmpty || skipHeaderFooterOf(p.tail) != ((0, 0))) &&
        serdeOf(p.tail).forall(c =>
          c.endsWith("LazySimpleSerDe") ||
            // RegexSerDe: read-only view over regexp_extract groups
            (c.endsWith("RegexSerDe") && serdeProps(p.tail).contains("input.regex")) ||
            // TestSerDe (itests/test-serde/TestSerDe.java): LazySimple
            // layout with a ctrl-B default separator, prop-overridable
            c.endsWith("TestSerDe") ||
            // DynamicSerDe over TCTLSeparatedProtocol: delimited text
            // with optional paired quote delims — a generated regex view
            (c.endsWith("DynamicSerDe") && serdeProps(p.tail)
              .get("serialization.format")
              .exists(_.endsWith("TCTLSeparatedProtocol")))) &&
        storedAsName(p.tail).forall(_ == "textfile")
    }

  /** Translate one CREATE TABLE into the statements to run: the
    * text+view pair for [[viewBacked]] targets, else the single
    * [[translate]] result. */
  def translateStatements(stmt: String, textTables: Set[String],
                          insertTargets: Set[String],
                          extendedBool: Boolean = false): Seq[String] =
    if (viewBacked(stmt, textTables, insertTargets))
      textViewStatements(parseCreate(stmt).get, stmt, extendedBool)
    else Seq(translate(stmt, textTables))

  /** Just the parsing-VIEW statement of a view-backed CREATE — for
    * re-deriving the view when a serde-behavior conf flips mid-file
    * (hive.lazysimple.extended_boolean_literal). */
  def parsingViewStatement(stmt: String, extendedBool: Boolean): Option[String] =
    parseCreate(stmt).map(p => textViewStatements(p, stmt, extendedBool).last)

  /** The LazySimpleSerDe WRITE parameters of a text CREATE: (field
    * separator, collection delim, mapkey delim, null representation) —
    * for serializing INSERTed rows into the view-backed lines table. */
  def textSerParams(stmt: String): Option[(String, Char, Char, String)] =
    parseCreate(stmt).map { p =>
      // the INSERT serializer does not (yet) escape data bytes — decline
      // rather than write a silently-unescaped file
      require(escapedByOf(p.tail).isEmpty,
        s"INSERT into an ESCAPED BY text table not supported: $stmt")
      val (sep, nullRep) = textFormat(p.tail, stmt)
      (sep,
        delimOf(p.tail, "collection\\s+items", "collection.delim", '\u0002', stmt),
        delimOf(p.tail, "map\\s+keys", "mapkey.delim", '\u0003', stmt),
        nullRep)
    }

  /** `name` for a view-backed table's underlying lines table. */
  def linesTable(name: String): String = name + "__lines"

  /** `skip.header.line.count` / `skip.footer.line.count` tblproperties
    * (HiveContextAwareRecordReader.java:304-336 skips them per FILE). */
  private[compat] def skipHeaderFooterOf(tail: String): (Int, Int) = {
    val props = tblProps(tail)
    def n(k: String) = props.get(k).map(_.trim.toInt).getOrElse(0)
    (n("skip.header.line.count"), n("skip.footer.line.count"))
  }

  /** Table a CREATE TABLE statement creates, if it parses as one. */
  def createdTable(stmt: String): Option[String] = parseCreate(stmt).map(_.name)

  private def textViewStatements(p: Parsed, stmt: String,
                                 extendedBool: Boolean = false): Seq[String] = {
    // RegexSerDe: one capture group per column over a FULL-match regex
    // (serde2.RegexSerDe uses matcher.matches(); unmatched lines are
    // all-NULL rows). Spark's regexp_extract finds, so the pattern
    // anchors through a non-capturing wrapper.
    if (serdeOf(p.tail).exists(_.endsWith("RegexSerDe"))) {
      val regex = HiveRewrites.unescapeSqlBody(serdeProps(p.tail)("input.regex"))
      val ine0 = if (p.ifNotExists) "IF NOT EXISTS " else ""
      val lines0 = linesTable(p.name)
      val loc0 = locationOf(p.tail).fold("")(l => s" LOCATION '$l'")
      val create0 =
        s"CREATE TABLE $ine0`$lines0` (value STRING) USING text$loc0"
      val anchored = "^(?:" + regex + ")$"
      val cols0 = SqlText.split(p.cols.get, angle = true).map { c =>
        val t = c.trim
        val name = t.split("\\s+", 2).head.replace("`", "")
        val typ = t.drop(t.split("\\s+", 2).head.length).trim
        (name, "(?is)\\s+comment\\s+'.*$".r.replaceFirstIn(typ, "").trim)
      }
      val pat = HiveRewrites.escapeSqlBody(anchored)
      val sel = cols0.zipWithIndex.map { case ((n, t), i) =>
        s"CAST(CASE WHEN value RLIKE '$pat' THEN " +
          s"nullif(regexp_extract(value, '$pat', ${i + 1}), '') END " +
          s"AS $t) AS `$n`"
      }
      val view0 = s"CREATE VIEW $ine0`${p.name}` AS SELECT " +
        s"${sel.mkString(", ")} FROM `$lines0`"
      return Seq(create0, view0)
    }
    // DynamicSerDe over TCTLSeparatedProtocol (serde2/dynamic_type/
    // DynamicSerDe.java + thrift/TCTLSeparatedProtocol.java): delimited
    // text whose optional `quote.delim` chars open a span the field
    // delimiter cannot split (input19's apache log: `[...]` and `"..."`
    // spans hold spaces). Reproduced as a generated anchored regex —
    // one group per column, each a quoted/bracketed span or a bare
    // token — with the quote chars stripped and
    // `serialization.null.format` nulled after extraction.
    if (serdeOf(p.tail).exists(_.endsWith("DynamicSerDe")) &&
        serdeProps(p.tail).get("serialization.format")
          .exists(_.endsWith("TCTLSeparatedProtocol"))) {
      val props = serdeProps(p.tail)
      val fd = HiveRewrites.unescapeSqlBody(props.getOrElse("field.delim", "\u0001"))
      val quoted = props.get("quote.delim").map(HiveRewrites.unescapeSqlBody)
      // supported quote.delim shape: the paired `"` / `[` `]` alternation
      require(quoted.forall(_ == "(\"|\\[|\\])"),
        s"TCTLSeparatedProtocol quote.delim shape not translatable in: $stmt")
      val nullFmt = HiveRewrites.unescapeSqlBody(
        props.getOrElse("serialization.null.format", "\\N"))
      val ineT = if (p.ifNotExists) "IF NOT EXISTS " else ""
      val linesT = linesTable(p.name)
      val locT = locationOf(p.tail).fold("")(l => s" LOCATION '$l'")
      val createT =
        s"CREATE TABLE $ineT`$linesT` (value STRING) USING text$locT"
      def reQ(c: Char): String =
        if ("\\^$.|?*+()[]{}".indexOf(c.toInt) >= 0) "\\" + c else c.toString
      val fdRe = fd.map(reQ).mkString
      val tok =
        if (quoted.isDefined) "(\"[^\"]*\"|\\[[^\\]]*\\]|[^" + fdRe + "]*)"
        else "([^" + fdRe + "]*)"
      val colsT = SqlText.split(p.cols.get, angle = true).map { c =>
        val t = c.trim
        val name = t.split("\\s+", 2).head.replace("`", "")
        val typ = t.drop(t.split("\\s+", 2).head.length).trim
        (name, "(?is)\\s+comment\\s+'.*$".r.replaceFirstIn(typ, "").trim)
      }
      val patT = HiveRewrites.escapeSqlBody(
        "^" + List.fill(colsT.size)(tok).mkString(fdRe) + "$")
      val stripPat = HiveRewrites.escapeSqlBody("^[\"\\[]|[\"\\]]$")
      val selT = colsT.zipWithIndex.map { case ((n, t), i) =>
        val raw = s"regexp_extract(value, '$patT', ${i + 1})"
        val body =
          if (quoted.isDefined) s"regexp_replace($raw, '$stripPat', '')"
          else raw
        s"CAST(nullif($body, '${escape(nullFmt)}') AS $t) AS `$n`"
      }
      val viewT = s"CREATE VIEW $ineT`${p.name}` AS SELECT " +
        s"${selT.mkString(", ")} FROM `$linesT`"
      return Seq(createT, viewT)
    }
    // TestSerDe ignores unknown serdeproperties (its initialize reads
    // only its own separator key) — no Lazy prop validation
    if (!serdeOf(p.tail).exists(_.endsWith("TestSerDe")))
      checkLazyProps(p.tail, stmt, allowEncoding = true)
    val (sep, nullRep) = textFormat(p.tail, stmt)
    val collectionDelim = delimOf(p.tail, "collection\\s+items", "collection.delim", '\u0002', stmt)
    val mapkeyDelim = delimOf(p.tail, "map\\s+keys", "mapkey.delim", '\u0003', stmt)
    // the reference's separator candidate list (LazySerDeParameters
    // .collectSeparators): field, collection, mapkey, then 4..8, 11,
    // 14..26, 28..31 — NOT a plain byte sequence (tab/newline/FF/CR/ESC
    // are skipped because they occur in real text)
    val sepCandidates: Vector[Char] =
      Vector(sep.headOption.getOrElse('\u0001'), collectionDelim, mapkeyDelim) ++
        (4 to 8).map(_.toChar) ++ Vector(11.toChar) ++
        (14 to 26).map(_.toChar) ++ (28 to 31).map(_.toChar)
    def sepChar(level: Int): Char =
      if (level < sepCandidates.size) sepCandidates(level)
      else throw new IllegalArgumentException(
        s"nesting deeper than ${sepCandidates.size} levels needs the reference's " +
          "byte-range separators (0x80..0xFF), which are not valid text: " + stmt)
    val partCols = partitionedBy(p.tail)
    val location = locationOf(p.tail)
    val cols = SqlText.split(p.cols.get, angle = true).map { c =>
      val t = c.trim
      val name = t.split("\\s+", 2).head.replace("`", "")
      val rest = t.drop(t.split("\\s+", 2).head.length).trim
      val typ = "(?is)\\s+comment\\s+'.*$".r.replaceFirstIn(rest, "").trim
      (name, typ)
    }
    val ine = if (p.ifNotExists) "IF NOT EXISTS " else ""
    val lines = linesTable(p.name)
    val partDecl = partCols.map { case (n, t) => s", $n $t" }.mkString
    val partBy = if (partCols.nonEmpty)
      s" PARTITIONED BY (${partCols.map(_._1).mkString(", ")})" else ""
    val loc = location.fold("")(l => s" LOCATION '$l'")
    // skip.header/footer.line.count are PER-FILE counts
    // (HiveContextAwareRecordReader.java:304-336; the reference makes
    // footer'd files unsplittable) — read whole files and slice lines
    val (skipHdr, skipFtr) = skipHeaderFooterOf(p.tail)
    val wholeFiles = skipHdr > 0 || skipFtr > 0
    val readerOpts = if (wholeFiles) " OPTIONS (wholetext 'true')" else ""
    val create =
      s"CREATE TABLE $ine`$lines` (value STRING$partDecl) USING text$readerOpts$partBy$loc"
    // ESCAPED BY: a field separator preceded by the escape byte is data
    // (LazySimpleSerDe); split on un-escaped separators only, then strip
    // the escapes per field. One-char lookbehind — an escaped escape
    // (`\\`) immediately before a real separator would mis-split; no
    // corpus data (and no sane file) spells that.
    val escBy = escapedByOf(p.tail)
    def reQuote(c: Char): String =
      if ("\\^$.|?*+()[]{}".indexOf(c.toInt) >= 0) "\\" + c else c.toString
    val fieldSplit = escBy match {
      case Some(e) =>
        s"split(value, '${escape("(?<!" + reQuote(e.head) + ")" + sep.map(reQuote).mkString)}')"
      case None => s"split(value, ${regexLit(sep)})"
    }
    // serialization.last.column.takes.rest: the final column absorbs the
    // remainder of the line, separators included (PlanUtils default-
    // schema behavior, opted into per table by the property)
    val takesRest = serdeProps(p.tail)
      .get("serialization.last.column.takes.rest").exists(_.equalsIgnoreCase("true"))
    val selects = cols.zipWithIndex.map { case ((n, t), i) =>
      val src0 =
        if (takesRest && i == cols.size - 1)
          s"CASE WHEN size(__f) >= ${i + 1} THEN " +
            s"array_join(slice(__f, ${i + 1}, size(__f)), '${escape(sep)}') END"
        else s"element_at(__f, ${i + 1})"
      // strip escape bytes: `\x` decodes to `x` (LazyString unescaping)
      val src = escBy.fold(src0)(e =>
        s"regexp_replace($src0, '${escape(reQuote(e.head) + "(.)")}', '$$1')")
      parseField(src, t, 1, sepChar, nullRep, extendedBool) + s" AS `$n`"
    } ++ partCols.map { case (pn, _) => s"`$pn`" }
    val partPass = partCols.map { case (pn, _) => s", `$pn`" }.mkString
    // one logical line per row: direct from the lines table, or — for
    // header/footer tables — whole files split into lines, a trailing
    // newline's empty tail dropped (LineRecordReader never yields one),
    // then sliced past the header and short of the footer per file
    val lineSource =
      if (!wholeFiles) s"`$lines`"
      else s"(SELECT __line AS value$partPass FROM (SELECT CASE WHEN " +
        s"size(__l0) > 0 AND element_at(__l0, -1) = '' THEN " +
        s"slice(__l0, 1, size(__l0) - 1) ELSE __l0 END AS __l$partPass " +
        s"FROM (SELECT split(value, '\\r?\\n') AS __l0$partPass " +
        s"FROM `$lines`) __h0) __h1 " +
        s"LATERAL VIEW explode(slice(__l, ${skipHdr + 1}, " +
        s"greatest(0, size(__l) - $skipHdr - $skipFtr))) __h2 AS __line)"
    val view = s"CREATE VIEW $ine`${p.name}` AS SELECT ${selects.mkString(", ")} " +
      s"FROM (SELECT $fieldSplit AS __f$partPass FROM $lineSource __lsrc) __t"
    Seq(create, view)
  }

  /** LazySimpleSerDe field parsing as codegen'd SQL over the split
    * fields — the reference's nested-delimiter rules (LazySerDe
    * parameters: collection items at one level deeper, map key-values
    * one deeper still, then \u0004, \u0005, ...). */
  private def parseField(e: String, typ: String, level: Int,
                         sepChar: Int => Char, nullRep: String,
                         extendedBool: Boolean = false): String = {
    val t = typ.trim
    val lower = t.toLowerCase
    def nn(x: String) = s"nullif($x, '${escape(nullRep)}')"
    if (lower.startsWith("array")) {
      val inner = t.substring(t.indexOf('<') + 1, t.lastIndexOf('>'))
      val d = regexLit(sepChar(level).toString)
      // LazyArray: the empty string is an EMPTY array, not [""]
      s"CASE WHEN ${nn(e)} IS NULL THEN NULL WHEN $e = '' THEN array() ELSE " +
        s"transform(split($e, $d), __x$level -> " +
        s"${parseField(s"__x$level", inner, level + 1, sepChar, nullRep, extendedBool)}) END"
    } else if (lower.startsWith("map")) {
      val inner = t.substring(t.indexOf('<') + 1, t.lastIndexOf('>'))
      val parts = SqlText.split(inner, angle = true)
      require(parts.size == 2, s"unparseable map type: $t")
      val d1 = regexLit(sepChar(level).toString)
      // LazyMapObjectInspector: only the FIRST key-value delimiter in a
      // pair splits key from value — the value keeps any further
      // occurrences (a timestamp's colons under MAP KEYS TERMINATED BY
      // ':'); a pair with no delimiter is (whole, NULL)
      val d2chr = s"'${escape(sepChar(level + 1).toString)}'"
      val p = s"__p$level"
      val kRaw = s"CASE WHEN instr($p, $d2chr) > 0 " +
        s"THEN substring($p, 1, instr($p, $d2chr) - 1) ELSE $p END"
      val vRaw = s"CASE WHEN instr($p, $d2chr) > 0 " +
        s"THEN substring($p, instr($p, $d2chr) + 1) END"
      s"CASE WHEN ${nn(e)} IS NULL THEN NULL ELSE " +
        s"map_from_entries(transform(split($e, $d1), $p -> struct(" +
        s"${parseField(kRaw, parts.head, level + 2, sepChar, nullRep, extendedBool)}, " +
        s"${parseField(vRaw, parts(1), level + 2, sepChar, nullRep, extendedBool)}))) END"
    } else if (lower.startsWith("struct")) {
      val inner = t.substring(t.indexOf('<') + 1, t.lastIndexOf('>'))
      val d = regexLit(sepChar(level).toString)
      val fields = SqlText.split(inner, angle = true).map { f =>
        val colon = f.indexOf(':')
        require(colon > 0, s"unparseable struct field: $f")
        // the text serde's OIs carry LOWERCASED field names
        // (parquet_create's staging golden renders {"a":...} for a
        // declared struct<A:...>; the parquet serde preserves case)
        (f.substring(0, colon).trim.replace("`", "").toLowerCase,
          f.substring(colon + 1).trim)
      }
      val members = fields.zipWithIndex.map { case ((fn, ft), i) =>
        s"'$fn', ${parseField(s"element_at(split($e, $d), ${i + 1})", ft, level + 1, sepChar, nullRep, extendedBool)}"
      }
      s"CASE WHEN ${nn(e)} IS NULL THEN NULL ELSE named_struct(${members.mkString(", ")}) END"
    } else if (lower.startsWith("uniontype")) {
      // LazyUnion: tag, then ONE level separator, then the active
      // branch's text (which keeps deeper separators). Decoded into the
      // declared struct-tag encoding (SURVEY §1.2): struct<tag:tinyint,
      // field0..fieldN> with only the active branch non-null.
      val inner = t.substring(t.indexOf('<') + 1, t.lastIndexOf('>'))
      val branches = SqlText.split(inner, angle = true)
      val dchr = s"'${escape(sepChar(level).toString)}'"
      val tagE = s"CASE WHEN instr($e, $dchr) > 0 " +
        s"THEN substring($e, 1, instr($e, $dchr) - 1) ELSE $e END"
      val restE = s"CASE WHEN instr($e, $dchr) > 0 " +
        s"THEN substring($e, instr($e, $dchr) + 1) END"
      val members = Seq(s"'tag', CAST($tagE AS TINYINT)") ++
        branches.zipWithIndex.map { case (bt, i) =>
          s"'field$i', CASE WHEN $tagE = '$i' THEN " +
            s"${parseField(restE, bt, level + 1, sepChar, nullRep, extendedBool)} END"
        }
      s"CASE WHEN ${nn(e)} IS NULL THEN NULL ELSE named_struct(${members.mkString(", ")}) END"
    } else if (lower == "boolean") {
      // LazyBoolean.init: STRICT case-insensitive 'true'/'false' only;
      // the extended-literal conf adds the single-char 1/t/T and 0/f/F
      // forms — anything else is NULL (never Spark's permissive cast)
      val ext =
        if (extendedBool)
          s" WHEN $e IN ('1', 't', 'T') THEN true WHEN $e IN ('0', 'f', 'F') THEN false"
        else ""
      s"CASE WHEN lower(${nn(e)}) = 'true' THEN true " +
        s"WHEN lower(${nn(e)}) = 'false' THEN false$ext END"
    } else if (lower == "string") {
      nn(e)
    } else if ("^(char|varchar)\\s*\\(\\d+\\)$".r.findFirstIn(lower).isDefined) {
      // HiveCharWritable.set(text, n): truncate to n (the typed cast
      // then pads char readback; overflow must not error)
      val n = "\\d+".r.findFirstIn(lower).get
      s"CAST(substr(${nn(e)}, 1, $n) AS $t)"
    } else if (lower == "binary") {
      // LazyBinary: text that is entirely base64 alphabet (whitespace
      // included) DECODES; anything else is the raw bytes
      // commons-codec decodeBase64: a trailing group of 2-3 chars still
      // decodes (pad it); a single leftover char is dropped
      val clean = s"regexp_replace($e, '\\\\s', '')"
      val adj = s"CASE WHEN length($clean) % 4 = 1 " +
        s"THEN substring($clean, 1, length($clean) - 1) ELSE $clean END"
      val padded = s"concat($adj, repeat('=', (4 - length($adj) % 4) % 4))"
      s"CASE WHEN ${nn(e)} IS NULL THEN NULL " +
        s"WHEN $e RLIKE '^[A-Za-z0-9+/=\\\\s]*$$' " +
        s"THEN unbase64($padded) " +
        s"ELSE CAST($e AS BINARY) END"
    } else {
      s"CAST(${nn(e)} AS $t)"
    }
  }

  /** A Spark SQL string literal holding a regex that matches `s`
    * LITERALLY (\\Q...\\E quoting, control chars spelled \\uXXXX). */
  private def regexLit(s: String): String =
    "'\\\\Q" + escape(s) + "\\\\E'"

  /** `<what> TERMINATED BY 'x'` delimiter (or its serdeproperty) with
    * default. */
  private def delimOf(tail: String, what: String, prop: String, dflt: Char,
                      stmt: String): Char = {
    val re = ("(?is)" + what + "\\s+terminated\\s+by\\s+'([^']*)'").r
    re.findFirstMatchIn(tail).map(m => unescapeDelim(m.group(1), stmt))
      .orElse(serdeProps(tail).get(prop)) match {
      case Some(d) if d.length == 1 => d.charAt(0)
      case None => dflt
      case Some(other) => throw new IllegalArgumentException(
        s"multi-char nested delimiter '$other' not supported in: $stmt")
    }
  }

  private def storedAsName(tail: String): Option[String] =
    "(?is)stored\\s+as\\s+(\\w+)".r.findFirstMatchIn(tail).map(_.group(1).toLowerCase)
      // SymlinkTextInputFormat + IgnoreKeyTextOutputFormat IS the text
      // layout — the files under the table dir are symlink manifests
      // (paths/globs, one per line) the replay resolves at dfs-copy
      // time (ql/io/SymlinkTextInputFormat.java getSplits)
      .map(n => if (n == "inputformat" &&
        tail.contains("SymlinkTextInputFormat")) "textfile" else n)

  /** Table created `STORED AS INPUTFORMAT 'SymlinkTextInputFormat'`. */
  def symlinkTextTable(stmt: String): Option[String] =
    parseCreate(stmt).filter(_.tail.contains("SymlinkTextInputFormat"))
      .map(_.name)
}
