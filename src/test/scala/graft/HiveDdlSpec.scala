package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.compat.HiveDdl

/** HiveQL CREATE TABLE translation (compat/HiveDdl) — the delimiter and
  * ROW FORMAT DELIMITED subclause semantics, pinned against the
  * reference's unescapeSQLString (BaseSemanticAnalyzer.java): `\ooo`
  * escapes are OCTAL, and subclauses the csv mapping cannot honor must
  * decline loudly rather than read back a silently different table. */
class HiveDdlSpec extends AnyFunSuite {

  private val load = Set("t")

  private def ddl(clauses: String): String =
    s"CREATE TABLE t (a string, b string) ROW FORMAT DELIMITED $clauses STORED AS TEXTFILE"

  test("FIELDS TERMINATED BY octal escapes decode as octal, not decimal") {
    // '\012' is newline (10) in the reference's unescapeSQLString
    val nl = HiveDdl.translate(ddl("FIELDS TERMINATED BY '\\012'"), load)
    assert(nl.contains("sep '\\n'"), nl)
    // '\001' — same value under both radixes, the common corpus spelling
    val soh = HiveDdl.translate(ddl("FIELDS TERMINATED BY '\\001'"), load)
    assert(soh.contains("sep '\\u0001'"), soh)
    // '\011' is TAB (9), where the old decimal parse read 11
    val tab = HiveDdl.translate(ddl("FIELDS TERMINATED BY '\\011'"), load)
    assert(tab.contains("sep '\\t'"), tab)
    // a non-octal digit run is not a legal reference escape — loud decline
    intercept[IllegalArgumentException] {
      HiveDdl.translate(ddl("FIELDS TERMINATED BY '\\089'"), load)
    }
  }

  test("ESCAPED BY declines loudly (csv escape only applies inside quotes)") {
    val e = intercept[IllegalArgumentException] {
      HiveDdl.translate(ddl("FIELDS TERMINATED BY ',' ESCAPED BY '\\\\'"), load)
    }
    assert(e.getMessage.contains("ESCAPED BY"))
  }

  test("LINES TERMINATED BY accepts only newline, as the reference does") {
    val ok = HiveDdl.translate(ddl("FIELDS TERMINATED BY ',' LINES TERMINATED BY '\\n'"), load)
    assert(ok.contains("sep ','"))
    val e = intercept[IllegalArgumentException] {
      HiveDdl.translate(ddl("LINES TERMINATED BY '|'"), load)
    }
    assert(e.getMessage.contains("LINES TERMINATED BY"))
  }

  test("NULL DEFINED AS maps onto the csv nullValue option") {
    val t = HiveDdl.translate(ddl("FIELDS TERMINATED BY ',' NULL DEFINED AS 'NIL'"), load)
    assert(t.contains("nullValue 'NIL'"), t)
    // default stays LazySimpleSerDe's \N
    val d = HiveDdl.translate(ddl("FIELDS TERMINATED BY ','"), load)
    assert(d.contains("nullValue '\\\\N'"), d)
  }

  test("text LOAD targets become a lines table + parsing view") {
    val stmt = "CREATE TABLE t (a string, b array<int>, m map<string,string>, " +
      "s struct<x:int,y:string>) STORED AS TEXTFILE"
    assert(HiveDdl.viewBacked(stmt, load, Set.empty))
    // round 12: INSERT targets are view-backed too — the replay rewrites
    // their INSERTs into serialized lines, which is what preserves empty
    // strings and complex types across the text round trip
    assert(HiveDdl.viewBacked(stmt, load, Set("t")))
    // partitioned text tables stay on the csv lane (ALTER ADD PARTITION
    // and per-partition LOADs need a real table)
    assert(!HiveDdl.viewBacked(
      stmt.replace(" STORED AS", " PARTITIONED BY (p string) STORED AS"),
      load, Set.empty))
    val Seq(create, view) = HiveDdl.translateStatements(stmt, load, Set.empty)
    assert(create.startsWith("CREATE TABLE `t__lines` (value STRING) USING text"), create)
    assert(view.startsWith("CREATE VIEW `t` AS SELECT"), view)
    // LazySimpleSerDe parsing shapes: nested-delimiter split, \N nulls,
    // empty string = empty array, map entries at level+1/level+2
    assert(view.contains("transform(split("), view)
    assert(view.contains("map_from_entries("), view)
    assert(view.contains("named_struct("), view)
    assert(view.contains("THEN array()"), view)
    assert(view.contains("nullif("), view)
  }

  test("known SERDE classes on LOAD targets map to real datasources") {
    val json = HiveDdl.translate(
      "CREATE TABLE t (a int, b string) ROW FORMAT SERDE " +
        "'org.apache.hive.hcatalog.data.JsonSerDe' STORED AS TEXTFILE", load)
    assert(json.contains("USING json"), json)
    val csv = HiveDdl.translate(
      "CREATE TABLE t (a string) ROW FORMAT SERDE " +
        "'org.apache.hadoop.hive.serde2.OpenCSVSerde' " +
        "WITH SERDEPROPERTIES ('separatorChar'='|') STORED AS TEXTFILE", load)
    assert(csv.contains("USING csv") && csv.contains("sep '|'"), csv)
    // unknown serde on a LOAD target still declines loudly
    intercept[IllegalArgumentException] {
      HiveDdl.translate(
        "CREATE TABLE t (a string) ROW FORMAT SERDE 'com.example.MysterySerDe'", load)
    }
  }

  test("LazySimpleSerDe serdeproperties: delimiters honored, unknown keys decline") {
    val Seq(_, view) = HiveDdl.translateStatements(
      "CREATE TABLE t (a string, b array<string>) ROW FORMAT SERDE " +
        "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' " +
        "WITH SERDEPROPERTIES ('field.delim'=',') STORED AS TEXTFILE",
      load, Set.empty)
    assert(view.contains("split(value, '\\\\Q,\\\\E')"), view)
    // a JVM-supported non-UTF-8 encoding is ACCEPTED on the lines-view
    // path (the LOAD lane transcodes to UTF-8 — encoding_nonutf8)...
    HiveDdl.translateStatements(
      "CREATE TABLE t (a string) ROW FORMAT SERDE " +
        "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' " +
        "WITH SERDEPROPERTIES ('serialization.encoding'='ISO8859_1') STORED AS TEXTFILE",
      load, Set.empty)
    // ...an UNKNOWN charset still declines loudly
    intercept[IllegalArgumentException] {
      HiveDdl.translateStatements(
        "CREATE TABLE t (a string) ROW FORMAT SERDE " +
          "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' " +
          "WITH SERDEPROPERTIES ('serialization.encoding'='KLINGON-8') STORED AS TEXTFILE",
        load, Set.empty)
    }
  }

  test("ROW FORMAT on a non-LOAD target stays invisible (parquet)") {
    // format is invisible without a LOAD: even clauses the text mapping
    // declines translate fine when no raw file will be read back
    val t = HiveDdl.translate(ddl("FIELDS TERMINATED BY ',' ESCAPED BY '\\\\'"), Set.empty)
    assert(t.contains("USING parquet"))
  }

  test("boolean text fields decode the reference's LazyBoolean way: strict true/false, extended 1/t/0/f") {
    // LazyBoolean.init (serde/.../lazy/LazyBoolean.java:50): strict mode
    // accepts only case-insensitive 'true'/'false'; anything else is
    // NULL — never Spark's permissive cast ('T', '1', 'yes' all decode
    // true there). bool_literal.q.out pins the corpus behavior.
    val Seq(_, strict) = HiveDdl.translateStatements(
      "CREATE TABLE t (k int, v boolean) STORED AS TEXTFILE",
      Set("t"), Set.empty)
    assert(strict.contains("= 'true'") && strict.contains("= 'false'"), strict)
    assert(!strict.toLowerCase.contains("as boolean)"), strict)
    assert(!strict.contains("'t', 'T'"), strict)
    // the extended-literal conf adds the single-char forms
    val ext = HiveDdl.parsingViewStatement(
      "CREATE TABLE t (k int, v boolean) STORED AS TEXTFILE", extendedBool = true).get
    assert(ext.contains("'1', 't', 'T'") && ext.contains("'0', 'f', 'F'"), ext)
  }

  test("a NUMERIC delimiter string is the byte value (LazyUtils.getByte)") {
    // FIELDS TERMINATED BY '9' is TAB in the reference, never the digit
    // character — binarysortable_1.q.out splits its rows on the tab
    val Seq(lines, view) = HiveDdl.translateStatements(
      "CREATE TABLE t (key string, value string) ROW FORMAT DELIMITED " +
        "FIELDS TERMINATED BY '9' STORED AS TEXTFILE",
      Set("t"), Set.empty)
    assert(view.contains("split(value, '\\\\Q\\t\\\\E')"), view)
  }

  test("char/varchar text fields truncate to their length before the typed cast") {
    // HiveCharWritable.set(text, n): overflow TRUNCATES (the typed cast
    // pads char readback); Spark's raw cast would error under
    // preserveCharVarcharTypeInfo
    val Seq(_, view) = HiveDdl.translateStatements(
      "CREATE TABLE t (c char(3), v varchar(4)) STORED AS TEXTFILE",
      Set("t"), Set.empty)
    assert(view.contains("substr(") && view.contains("AS char(3)"), view)
    assert(view.contains("AS varchar(4)"), view)
  }

  // ---- column and property lists: split and matched by graft.SqlText ---

  /** Column names of a lines-table parsing view, in select order. */
  private def viewColumns(stmt: String): Seq[String] = {
    val Seq(_, view) = HiveDdl.translateStatements(stmt, load, Set.empty)
    "AS `([^`]*)`".r.findAllMatchIn(view).map(_.group(1)).toSeq
  }

  test("translation output is unchanged on lists without literals in them") {
    assert(HiveDdl.translate("CREATE TABLE t (a INT, b DECIMAL(8,4)) PARTITIONED BY " +
      "(p STRING COMMENT 'part', q DECIMAL(10,2)) STORED AS ORC") ==
      "CREATE TABLE t (a INT, b DECIMAL(8,4), p STRING, q DECIMAL(10,2)) USING orc PARTITIONED BY (p, q)")
    assert(HiveDdl.translate("CREATE TABLE IF NOT EXISTS t (a map<string,string>, " +
      "b struct<x:int,y:string>) CLUSTERED BY (a) SORTED BY (a DESC) INTO 4 BUCKETS") ==
      "CREATE TABLE IF NOT EXISTS t (a map<string,string>, b struct<x:int,y:string>) " +
        "USING parquet CLUSTERED BY (a)  INTO 4 BUCKETS")
    assert(HiveDdl.translate("CREATE TABLE t (a STRING) ROW FORMAT DELIMITED FIELDS " +
      "TERMINATED BY ',' TBLPROPERTIES ('k'='v', 'x'='(y)')") ==
      "CREATE TABLE t (a STRING) USING parquet")
    assert(HiveDdl.translateStatements("CREATE TABLE t (a STRING, b DECIMAL(8,4)) " +
      "PARTITIONED BY (p INT) ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'", load, Set.empty) ==
      Seq("CREATE TABLE t (a STRING, b DECIMAL(8,4), p INT) USING csv OPTIONS " +
        "(sep '|', quote '\\u0000', nullValue '\\\\N', emptyValue '') PARTITIONED BY (p)"))
    assert(HiveDdl.translateStatements(
      "CREATE TABLE t (a STRING COMMENT 'plain', b map<string,int>) STORED AS TEXTFILE",
      load, Set.empty) == Seq(
      "CREATE TABLE `t__lines` (value STRING) USING text",
      "CREATE VIEW `t` AS SELECT nullif(element_at(__f, 1), '\\\\N') AS `a`, " +
        "CASE WHEN nullif(element_at(__f, 2), '\\\\N') IS NULL THEN NULL ELSE " +
        "map_from_entries(transform(split(element_at(__f, 2), '\\\\Q\u0002\\\\E'), __p1 -> " +
        "struct(nullif(CASE WHEN instr(__p1, '\u0003') > 0 THEN substring(__p1, 1, " +
        "instr(__p1, '\u0003') - 1) ELSE __p1 END, '\\\\N'), CAST(nullif(CASE WHEN " +
        "instr(__p1, '\u0003') > 0 THEN substring(__p1, instr(__p1, '\u0003') + 1) END, " +
        "'\\\\N') AS int)))) END AS `b` FROM (SELECT split(value, '\\\\Q\\u0001\\\\E') " +
        "AS __f FROM `t__lines` __lsrc) __t"))
    assert(viewColumns("CREATE TABLE t (a STRING, b map<string,int>, " +
      "c struct<x:int,y:array<string>>, d uniontype<int,string>) STORED AS TEXTFILE") ==
      Seq("a", "b", "c", "d"))
  }

  test("a comma inside a column COMMENT does not split the column") {
    assert(viewColumns("CREATE TABLE t (a INT COMMENT 'x, y', b STRING) STORED AS TEXTFILE") ==
      Seq("a", "b"))
  }

  test("an angle bracket inside a column COMMENT does not nest") {
    assert(viewColumns("CREATE TABLE t (a INT COMMENT 'a<b', b STRING) STORED AS TEXTFILE") ==
      Seq("a", "b"))
  }

  test("a backslash-escaped quote inside a column COMMENT keeps the column list balanced") {
    assert(HiveDdl.translate("CREATE TABLE t (a STRING COMMENT 'it\\'s', b INT)") ==
      "CREATE TABLE t (a STRING COMMENT 'it\\'s', b INT) USING parquet")
  }
}
