package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.hplsql.Hplsql

/** HPL/SQL procedural layer (reference hplsql/src/main/java/org/apache/
  * hive/hplsql/Exec.java). Each test replays a script shaped like the
  * reference's own corpus (hplsql/src/test/queries/local + db) and pins
  * the printed output the reference's result files document.
  */
class HplsqlSpec extends AnyFunSuite {
  import TestSession._

  private def run(script: String): String =
    Hplsql.run(spark, script).output

  private def lines(script: String): Seq[String] =
    run(script).split("\n", -1).toSeq.dropRight(1) // drop trailing ""

  // ---- local/assign.sql + declare.sql ------------------------------------

  test("assignment forms: :=, =, SET, SET multi, SET tuple; implicit declaration") {
    val out = lines(
      """code := 'A';
        |status := 1;
        |count = 0;
        |SET code = 'B';
        |SET status = 2, count = 1;
        |SET (count, lim) = (5, 100);
        |PRINT code;
        |PRINT status;
        |PRINT count;
        |PRINT lim;""".stripMargin)
    assert(out == Seq("B", "2", "5", "100"))
  }

  test("declare forms: block and standalone, name lists, DEFAULT/:=/=") {
    val out = lines(
      """DECLARE
        |  code CHAR(10);
        |  status INT := 1;
        |  count SMALLINT = 0;
        |  lim INT DEFAULT 100;
        |BEGIN
        |  status := status + 1;
        |  PRINT status;
        |  PRINT lim;
        |END;
        |DECLARE status2, status3 INT DEFAULT 7;
        |DECLARE cnt SMALLINT, cap INT DEFAULT 100;
        |PRINT status2;
        |PRINT status3;
        |PRINT cap;
        |DECLARE dt DATE DEFAULT '2015-05-13';
        |DECLARE ts TIMESTAMP DEFAULT '2015-05-13 11:10:01';
        |PRINT dt;
        |PRINT ts;""".stripMargin)
    assert(out == Seq("2", "100", "7", "7", "100", "2015-05-13", "2015-05-13 11:10:01"))
  }

  // ---- local/if.sql + bool_expr.sql --------------------------------------

  test("IF: PL/SQL ELSIF chains, boolean operators, T-SQL single-statement and BEGIN-END forms") {
    val out = lines(
      """DECLARE state VARCHAR;
        |DECLARE count INT;
        |SET state = 'CA';
        |SET count = 1;
        |IF count = 1 THEN PRINT 'a'; END IF;
        |IF state = 'MA' THEN PRINT 'FAIL'; ELSE PRINT 'b'; END IF;
        |IF count = 4 THEN PRINT 'FAIL';
        |ELSIF count = 2 THEN PRINT 'FAIL';
        |ELSIF count = 1 THEN PRINT 'c';
        |ELSE PRINT 'FAIL'; END IF;
        |IF 1 IS NOT NULL AND 1 BETWEEN 0 AND 100 THEN PRINT 'd'; ELSE PRINT 'FAIL'; END IF;
        |IF ((1=1 OR 2=2) AND 2=2 AND 3=3 AND (1=2 OR 2=3)) THEN PRINT 'FAIL'; ELSE PRINT 'e'; END IF;
        |IF state = 'CA'
        |  PRINT 'f';
        |ELSE
        |  PRINT 'FAIL';
        |IF state = 'CA'
        |BEGIN
        |  PRINT 'g';
        |  PRINT 'h';
        |END
        |ELSE
        |BEGIN
        |  PRINT 'FAIL';
        |END""".stripMargin)
    assert(out == Seq("a", "b", "c", "d", "e", "f", "g", "h"))
  }

  // ---- local/while.sql: all three loop spellings -------------------------

  test("WHILE: LOOP / DO / BEGIN forms all iterate and terminate") {
    val script =
      """DECLARE count INT DEFAULT 3;
        |WHILE count <> 0 LOOP PRINT count; count := count - 1; END LOOP;
        |SET count = 2;
        |WHILE count <> 0 DO PRINT count; SET count = count - 1; END WHILE;
        |SET count = 1;
        |WHILE count <> 0 BEGIN PRINT count; SET count = count - 1; END""".stripMargin
    assert(lines(script) == Seq("3", "2", "1", "2", "1", "1"))
  }

  // ---- local/for_range.sql: loop-var scoping pinned by the reference -----

  test("FOR range: forward, REVERSE, BY step; loop variable does not leak (for_range.out.txt)") {
    val out = lines(
      """DECLARE i INT = 3;
        |FOR i IN 1..4 LOOP PRINT i; END LOOP;
        |PRINT i;
        |FOR i IN REVERSE 4..1 LOOP PRINT i; END LOOP;
        |PRINT i;
        |FOR i IN 1..10 BY 3 LOOP PRINT i; END LOOP;
        |PRINT i;""".stripMargin)
    assert(out == Seq("1", "2", "3", "4", "3", "4", "3", "2", "1", "3", "1", "4", "7", "10", "3"))
  }

  // ---- local/exit.sql: EXIT WHEN, labeled loops --------------------------

  test("EXIT: bare, WHEN condition, and labeled EXIT breaking the outer loop") {
    val out = lines(
      """DECLARE count INT DEFAULT 3;
        |WHILE 1=1 LOOP
        |  PRINT count;
        |  count := count - 1;
        |  EXIT WHEN count = 0;
        |END LOOP;
        |<<lbl>>
        |WHILE 1=1 LOOP
        |  PRINT 'outer';
        |  WHILE 1=1 LOOP
        |    PRINT 'inner1';
        |    EXIT;
        |    PRINT 'FAIL';
        |  END LOOP;
        |  <<lbl2>>
        |  WHILE 1=1 LOOP
        |    PRINT 'inner2';
        |    EXIT lbl;
        |    PRINT 'FAIL';
        |  END LOOP;
        |  PRINT 'FAIL';
        |END LOOP;
        |PRINT 'end';""".stripMargin)
    assert(out == Seq("3", "2", "1", "outer", "inner1", "inner2", "end"))
  }

  test("BREAK exits a T-SQL WHILE (break.sql)") {
    val out = lines(
      """DECLARE count INT DEFAULT 3;
        |WHILE 1=1 BEGIN
        |  PRINT count;
        |  SET count = count - 1;
        |  IF count = 0
        |    BREAK;
        |END
        |PRINT 'end';""".stripMargin)
    assert(out == Seq("3", "2", "1", "end"))
  }

  // ---- local/case.sql ----------------------------------------------------

  test("CASE: simple and searched, with and without ELSE, NVL2 over NULL case result") {
    val out = lines(
      """PRINT CASE 1 WHEN 0 THEN 'F' WHEN 1 THEN 'a' ELSE 'F' END;
        |PRINT CASE 3 WHEN 0 THEN 'F' WHEN 1 THEN 'F' ELSE 'b' END;
        |PRINT NVL2(CASE 3 WHEN 0 THEN 'F' WHEN 1 THEN 'F' END, 'F', 'c');
        |PRINT CASE WHEN 1=0 THEN 'F' WHEN 1=1 THEN 'd' ELSE 'F' END;""".stripMargin)
    assert(out == Seq("a", "b", "c", "d"))
  }

  // ---- local/create_procedure.sql: OUT parameter writeback ----------------

  test("CREATE PROCEDURE with IN/OUT params; CALL writes the OUT back to the caller's var") {
    val out = lines(
      """CREATE PROCEDURE set_message(IN name STRING, OUT result STRING)
        |BEGIN
        |  SET result = 'Hello, ' || name || '!';
        |END;
        |DECLARE str STRING;
        |CALL set_message('world', str);
        |PRINT str;""".stripMargin)
    assert(out == Seq("Hello, world!"))
  }

  // ---- local/create_function.sql: RETURN short-circuits ------------------

  test("CREATE FUNCTION: RETURN stops the body; function callable in expressions") {
    val out = lines(
      """CREATE FUNCTION hello()
        | RETURNS STRING
        |BEGIN
        | PRINT 'Start';
        | RETURN 'Hello, world';
        | PRINT 'FAIL - unreachable';
        |END;
        |PRINT hello() || '!';
        |PRINT 'End of script';""".stripMargin)
    assert(out == Seq("Start", "Hello, world!", "End of script"))
  }

  // ---- local/exception.sql + exception_divide_by_zero.sql ----------------

  test("EXCEPTION WHEN OTHERS catches an unknown-cursor FETCH inside the block") {
    val out = lines(
      """BEGIN
        |  PRINT 'a';
        |  WHILE 1=1 THEN
        |    FETCH cur INTO v;
        |    PRINT 'FAIL - unreachable';
        |  END WHILE;
        |EXCEPTION WHEN OTHERS THEN
        |  PRINT 'handled';
        |END""".stripMargin)
    assert(out == Seq("a", "handled"))
  }

  test("divide by zero assigns NULL then raises to the handler (exception_divide_by_zero.out.txt)") {
    val out = lines(
      """DECLARE
        |  booknum INT;
        |  total INT;
        |  percent INT;
        |BEGIN
        |  SET booknum = 10;
        |  SET total = 0;
        |  SET percent = booknum / total;
        |  PRINT 'FAIL - unreachable';
        |EXCEPTION WHEN OTHERS THEN
        |  PRINT CASE WHEN percent IS NULL THEN 'null-then-raise' ELSE 'FAIL' END;
        |END""".stripMargin)
    assert(out == Seq("null-then-raise"))
  }

  test("unhandled signals propagate out of nested blocks to an outer handler") {
    val out = lines(
      """BEGIN
        |  BEGIN
        |    SIGNAL my_cond;
        |    PRINT 'FAIL';
        |  END;
        |  PRINT 'FAIL - skipped on signal';
        |EXCEPTION WHEN my_cond THEN
        |  PRINT 'outer caught';
        |END""".stripMargin)
    assert(out == Seq("outer caught"))
  }

  // ---- db/cursor_attributes.sql ------------------------------------------

  test("cursor lifecycle: %ISOPEN / %FOUND / %NOTFOUND across OPEN, FETCH hits, exhaustion") {
    val out = lines(
      """DECLARE
        |  CURSOR c1 IS SELECT 'A' AS k;
        |  v1 VARCHAR(30);
        |BEGIN
        |  IF c1%ISOPEN THEN PRINT 'FAIL'; ELSE PRINT 'closed'; END IF;
        |  OPEN c1;
        |  IF c1%ISOPEN THEN PRINT 'open'; ELSE PRINT 'FAIL'; END IF;
        |  IF c1%FOUND IS NULL THEN PRINT 'found-null'; ELSE PRINT 'FAIL'; END IF;
        |  IF c1%NOTFOUND IS NULL THEN PRINT 'notfound-null'; ELSE PRINT 'FAIL'; END IF;
        |  FETCH c1 INTO v1;
        |  IF c1%FOUND THEN PRINT 'found'; ELSE PRINT 'FAIL'; END IF;
        |  PRINT v1;
        |  FETCH c1 INTO v1;
        |  IF c1%NOTFOUND THEN PRINT 'exhausted'; ELSE PRINT 'FAIL'; END IF;
        |  CLOSE c1;
        |END""".stripMargin)
    assert(out == Seq("closed", "open", "found-null", "notfound-null", "found", "A", "exhausted"))
  }

  // ---- db/select_into.sql + execute.sql ----------------------------------

  test("SELECT INTO scalar list and T-SQL TOP rewrite; EXECUTE IMMEDIATE INTO") {
    val out = lines(
      """DECLARE v_int INT;
        |DECLARE v_str STRING;
        |SELECT TOP 1 CAST(1 AS INT), 'x' INTO v_int, v_str FROM range(5);
        |PRINT 'INT: ' || v_int;
        |PRINT 'STR: ' || v_str;
        |DECLARE cnt INT;
        |EXECUTE 'SELECT COUNT(*) FROM range(7)' INTO cnt;
        |PRINT cnt;
        |DECLARE sqltext STRING = 'SELECT COUNT(*) FROM range(9)';
        |EXECUTE sqltext INTO cnt;
        |PRINT cnt;""".stripMargin)
    assert(out == Seq("INT: 1", "STR: x", "7", "9"))
  }

  // ---- db/for.sql + rowtype_attribute.sql --------------------------------

  test("FOR rec IN (SELECT ...) iterates rows with rec.col field access") {
    val out = lines(
      """FOR item IN (SELECT id, id * 2 AS dbl FROM range(3) ORDER BY id) LOOP
        |  PRINT CAST(item.id AS STRING) || ':' || item.dbl;
        |END LOOP;""".stripMargin)
    assert(out == Seq("0:0", "1:2", "2:4"))
  }

  test("FETCH INTO a record variable exposes columns as fields (rowtype_attribute.sql)") {
    val out = lines(
      """DECLARE
        |  CURSOR c1 IS SELECT 'A' AS key, 'B' AS value;
        |  v2 src%ROWTYPE;
        |BEGIN
        |  OPEN c1;
        |  FETCH c1 INTO v2;
        |  PRINT v2.key || v2.value;
        |  CLOSE c1;
        |END""".stripMargin)
    assert(out == Seq("AB"))
  }

  // ---- local/values_into.sql ---------------------------------------------

  test("VALUES INTO: scalar and tuple forms") {
    val out = lines(
      """VALUES 'A' INTO code;
        |VALUES (0, 100) INTO (lim, count);
        |PRINT code;
        |PRINT count;
        |PRINT lim;""".stripMargin)
    assert(out == Seq("A", "100", "0"))
  }

  // ---- expression surface -------------------------------------------------

  test("builtin scalar surface: NVL/NVL2/COALESCE/DECODE/INSTR/SUBSTR/REPLACE/LEN/CONCAT") {
    val out = lines(
      """PRINT NVL(NULL, 'a');
        |PRINT COALESCE(NULL, NULL, 'b');
        |PRINT NVL2('x', 'c', 'F');
        |PRINT DECODE(2, 1, 'F', 2, 'd', 'F');
        |PRINT DECODE(9, 1, 'F', 'e');
        |PRINT INSTR('abcabcabc', 'b', 3, 2);
        |PRINT INSTR('abcabcabc', 'b', -3);
        |PRINT SUBSTR('abcdef', 2, 3);
        |PRINT REPLACE('aXbX', 'X', 'y');
        |PRINT LEN('Abc ');
        |PRINT LENGTH('Abc ');
        |PRINT CONCAT('a', NULL, 'b');""".stripMargin)
    assert(out == Seq("a", "b", "c", "d", "e", "8", "5", "bcd", "ayby", "3", "4", "ab"))
  }

  test("date/timestamp literals and interval arithmetic (local/interval.sql, sub.sql)") {
    val out = lines(
      """PRINT DATE '2015-03-12' + 1 DAY;
        |PRINT DATE '2015-01-01' - 1;
        |PRINT TIMESTAMP '2015-03-12 10:10:10.000' + 1 MICROSECOND;
        |PRINT DATE '2015-03-12' + NVL(NULL, 3) DAYS;""".stripMargin)
    assert(out == Seq("2015-03-13", "2014-12-31",
      "2015-03-12 10:10:10.000001", "2015-03-15"))
  }

  test("unknown scalar functions fall back to the Spark engine surface") {
    val out = lines(
      """PRINT SHA2('abc', 256);
        |PRINT BASE64(CAST('hi' AS STRING));""".stripMargin)
    // Spark computes both; values pinned against known digests
    assert(out.head == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(out(1) == "aGk=") // standard base64 of "hi" — via engine fallback
  }

  // ---- SQL passthrough with variable substitution -------------------------

  test("set-based statements pass through to Spark SQL with variables substituted as literals") {
    val out = lines(
      """DECLARE lo INT DEFAULT 2;
        |DECLARE hi INT DEFAULT 5;
        |DECLARE total INT;
        |SELECT SUM(id) INTO total FROM range(10) WHERE id >= lo AND id < hi;
        |PRINT total;""".stripMargin)
    assert(out == Seq("9")) // 2+3+4
  }

  // ---- local/create_package.sql ------------------------------------------

  test("packages: spec+body, package state persists across calls (users counter)") {
    val out = lines(
      """CREATE OR REPLACE PACKAGE users AS
        |  session_count INT := 0;
        |  FUNCTION get_count() RETURN INT;
        |  PROCEDURE add(name VARCHAR(100));
        |END;
        |CREATE OR REPLACE PACKAGE BODY users AS
        |  FUNCTION get_count() RETURN INT
        |  IS
        |  BEGIN
        |    RETURN session_count;
        |  END;
        |  PROCEDURE add(name VARCHAR(100))
        |  IS
        |  BEGIN
        |    session_count = session_count + 1;
        |  END;
        |END;
        |users.add('John');
        |users.add('Sarah');
        |users.add('Paul');
        |PRINT 'Number of users: ' || users.get_count();""".stripMargin)
    assert(out == Seq("Number of users: 3"))
  }

  test("packages: member visibility — package vars, private members, global procs, pkg.var access") {
    val out = lines(
      """CREATE OR REPLACE PACKAGE pack1 AS
        |  a INT := 3;
        |  FUNCTION f1(p1 NUMBER, p2 NUMBER) RETURN NUMBER;
        |END;
        |CREATE OR REPLACE PACKAGE BODY pack1 AS
        |  b INT := 1;
        |  FUNCTION f1(p1 NUMBER, p2 NUMBER) RETURN NUMBER
        |  IS
        |  BEGIN
        |    PRINT 'ab: ' || a || b;
        |    PRINT 'f2: ' || f2();
        |    PRINT 'q: ' || pack1.f2();
        |    sp1(a);
        |    sp2(b);
        |    CALL sp3(a);
        |    RETURN p1 + p2 + a + b;
        |  END;
        |  FUNCTION f2 RETURN NUMBER
        |  IS
        |  BEGIN
        |    RETURN 1;
        |  END;
        |  PROCEDURE sp1(p1 NUMBER)
        |  IS
        |  BEGIN
        |    PRINT 'sp1: ' || a || b || p1;
        |  END;
        |  PROCEDURE sp3(p1 NUMBER)
        |  IS
        |  BEGIN
        |    PRINT 'sp3: ' || a || b || p1;
        |  END;
        |END;
        |CREATE PROCEDURE sp2(p2 NUMBER)
        |IS
        |BEGIN
        |  PRINT 'sp2: ' || pack1.a || p2;
        |END;
        |PRINT 'pack1.a: ' || pack1.a;
        |PRINT 'pack1.f1: ' || pack1.f1(3, 5);
        |pack1.sp1(9);
        |CALL pack1.sp1(9);""".stripMargin)
    assert(out == Seq(
      "pack1.a: 3",
      "ab: 31", "f2: 1", "q: 1", "sp1: 313", "sp2: 31", "sp3: 313",
      "pack1.f1: 12",
      "sp1: 319", "sp1: 319"))
  }

  test("INCLUDE executes another script file inline, bare and expression path forms") {
    val inc = java.nio.file.Files.createTempFile("graft_hpl_inc", ".sql")
    java.nio.file.Files.write(inc, "PRINT 'file included successfully';".getBytes)
    inc.toFile.deleteOnExit()
    val out = lines(
      s"""INCLUDE '${inc.toString.dropRight(4)}' || '.sql';
         |PRINT 'after';""".stripMargin)
    assert(out == Seq("file included successfully", "after"))
  }

  test("OUT params start NULL in the callee; INOUT sees the caller's value; a % b parses") {
    val out = lines(
      """CREATE PROCEDURE p(OUT x INT) BEGIN
        |  IF x IS NULL THEN PRINT 'fresh'; ELSE PRINT 'FAIL'; END IF;
        |  SET x = 9;
        |END;
        |CREATE PROCEDURE q(INOUT y INT) BEGIN
        |  PRINT y;
        |  SET y = y + 1;
        |END;
        |DECLARE v INT DEFAULT 5;
        |CALL p(v);
        |PRINT v;
        |CALL q(v);
        |PRINT v;
        |DECLARE a INT DEFAULT 17;
        |DECLARE b INT DEFAULT 5;
        |PRINT a % b;""".stripMargin)
    assert(out == Seq("fresh", "9", "9", "10", "2"))
  }

  test("number-vs-unparseable-string comparison is catchable, not a crash") {
    val out = lines(
      """DECLARE v INT := 1;
        |IF v = 'done' THEN PRINT 'FAIL'; ELSE PRINT 'not-equal'; END IF;""".stripMargin)
    assert(out == Seq("not-equal")) // falls back to string comparison
  }

  // ---- db/cmp_row_count.sql + cmp_sum.sql --------------------------------

  test("CMP ROW_COUNT / CMP SUM emit tab-separated measure lines per Cmp.java") {
    spark.sql("SELECT id, CAST(id AS STRING) AS s, DATE '2024-01-01' + CAST(id AS INT) AS d FROM range(10)")
      .createOrReplaceTempView("cmp_a")
    spark.sql("SELECT id, CAST(id AS STRING) AS s, DATE '2024-01-01' + CAST(id AS INT) AS d FROM range(10)")
      .createOrReplaceTempView("cmp_b")
    spark.sql("SELECT id FROM range(7)").createOrReplaceTempView("cmp_c")
    val out = lines(
      """CMP ROW_COUNT cmp_a, cmp_b;
        |CMP ROW_COUNT cmp_a WHERE id < 5, cmp_c AT other_engine;
        |CMP ROW_COUNT (SELECT id FROM cmp_a WHERE id >= 5), cmp_c;
        |CMP SUM cmp_a, cmp_b;""".stripMargin)
    assert(out.take(3) == Seq("row_count\t10\t10", "row_count\t5\t7", "row_count\t5\t7"))
    // SUM mode: count + id_sum + s_sum_length + d_sum_year/month/day, both equal
    val sumLines = out.drop(3)
    assert(sumLines.exists(_.startsWith("row_count\t10\t10")))
    assert(sumLines.exists(_.startsWith("id_sum\t45\t45")))
    assert(sumLines.exists(_.startsWith("s_sum_length\t10\t10")))
    assert(sumLines.exists(l => l.startsWith("d_sum_year\t") && l.split("\t")(1) == l.split("\t")(2)))
    // a genuine difference shows as unequal values, not an error
    val diff = lines("CMP ROW_COUNT cmp_a, cmp_c;")
    assert(diff == Seq("row_count\t10\t7"))
  }

  // ---- db/copy_to_file.sql + copy_to_table.sql ---------------------------

  test("COPY: delimited file, custom delimiter, SQLINSERT statements, and table targets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hpl_copy")
    spark.sql("SELECT id, CAST(id * 2 AS STRING) AS v FROM range(3)")
      .createOrReplaceTempView("copy_src")
    run(s"""COPY copy_src TO $dir/plain.txt;
           |COPY (SELECT id FROM copy_src WHERE id > 0) TO $dir/some.txt DELIMITER '\\01';
           |COPY (SELECT * FROM copy_src) TO $dir/ins.txt SQLINSERT copy_src2;
           |COPY copy_src TO hpl_copy_tbl;
           |COPY copy_src TO hpl_copy_tbl;""".stripMargin)
    val plain = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$dir/plain.txt"))
    assert(plain.size == 3 && plain.get(0) == "0\t0")
    val delim = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$dir/some.txt"))
    assert(delim.size == 2 && !delim.get(0).contains("\t"))
    val ins = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$dir/ins.txt"))
    assert(ins.size == 3 && ins.get(0).startsWith("INSERT INTO copy_src2 VALUES (") &&
      ins.get(0).endsWith(");"))
    // table target: CTAS on first copy, append on second
    assert(spark.table("hpl_copy_tbl").count() == 6)
    spark.sql("DROP TABLE hpl_copy_tbl")
  }

  // ---- error paths (clientnegative kin) ----------------------------------

  test("constraint DDL routes through the passthrough to the engine registry") {
    graft.plans.ConstraintCatalog.clear()
    run(
      """ALTER TABLE orders ADD CONSTRAINT pk_orders PRIMARY KEY (o_orderkey) DISABLE NOVALIDATE RELY;
        |ALTER TABLE lineitem ADD CONSTRAINT fk_lo FOREIGN KEY (l_orderkey) REFERENCES orders (o_orderkey) DISABLE NOVALIDATE RELY;
        |PRINT 'declared';
        |""".stripMargin)
    assert(graft.plans.ConstraintCatalog.primaryKey("orders").exists(_.rely),
      "HPL/SQL ALTER TABLE ADD CONSTRAINT must reach the constraint registry")
    assert(graft.plans.ConstraintCatalog.foreignKeys("lineitem", "orders").nonEmpty)
    run("ALTER TABLE lineitem DROP CONSTRAINT fk_lo;")
    assert(graft.plans.ConstraintCatalog.foreignKeys("lineitem", "orders").isEmpty)
    graft.plans.ConstraintCatalog.clear()
  }

  test("error paths: unknown variable, unknown procedure, unknown cursor, parse error — all typed") {
    // an undefined identifier is a NULL-valued IDENT var, not an error
    // (Exec.visitIdent:2124): operations see null (concat skips it,
    // var_scope.sql replay), while a bare PRINT renders the ident's own
    // name (Var.toString:568)
    assert(run("PRINT never_declared; PRINT 'x: ' || never_declared;")
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty) ==
      Seq("never_declared", "x:"))
    val e2 = intercept[Hplsql.HplError] { run("CALL no_such_proc(1);") }
    assert(e2.getMessage.contains("not found"))
    val e3 = intercept[Hplsql.HplError] { run("OPEN nope;") }
    assert(e3.getMessage.contains("Cursor not found"))
    intercept[graft.hplsql.ParseError] { run("PRINT (1 + ;") }
    // engine-fallback function failures surface as catchable SQLEXCEPTION
    val out = lines(
      """BEGIN
        |  PRINT TOTALLY_UNKNOWN_FN(1);
        |EXCEPTION WHEN OTHERS THEN
        |  PRINT 'caught';
        |END""".stripMargin)
    assert(out == Seq("caught"))
  }

  test("quoted identifiers survive the passthrough round trip; scientific literals stay whole") {
    spark.range(3).selectExpr("id", "CAST(id * 10 AS BIGINT) AS `status`")
      .createOrReplaceTempView("qid_t")
    // a QUOTED column name must re-quote for Spark and must NOT be
    // substituted even when a variable of the same name is in scope;
    // bare `end`-style keyword columns also survive via quoting
    val out = lines(
      """DECLARE status STRING DEFAULT 'boom';
        |DECLARE v BIGINT;
        |SELECT max(`status`) INTO v FROM qid_t;
        |PRINT v;
        |DECLARE e DOUBLE;
        |SELECT max(id) + 1e2 INTO e FROM qid_t;
        |PRINT e;""".stripMargin)
    assert(out == Seq("20", "102"), out.toString)
  }

  test("three-valued BETWEEN; case-insensitive loop labels; GREATEST/LEAST on strings") {
    val out = lines(
      """DECLARE hi INT;
        |IF 5 BETWEEN 1 AND hi THEN PRINT 'yes'; ELSE PRINT 'not-true'; END IF;
        |<<outer>> WHILE 1 = 1 LOOP
        |  EXIT OUTER;
        |END LOOP;
        |PRINT 'exited';
        |PRINT GREATEST('abc', 'abd');
        |PRINT LEAST('abc', 'abd');""".stripMargin)
    assert(out == Seq("not-true", "exited", "abd", "abc"), out.toString)
  }

  test("BEGIN TRANSACTION is a no-op, not a block; EXEC forms route correctly") {
    val out = lines(
      """BEGIN TRANSACTION;
        |PRINT 'after-begin-tran';
        |COMMIT;
        |CREATE PROCEDURE p1() BEGIN PRINT 'p1-ran'; END;
        |EXEC p1;
        |DECLARE dyn STRING DEFAULT 'DROP TABLE IF EXISTS exec_dyn_never_exists';
        |EXEC dyn;
        |PRINT 'dyn-ok';""".stripMargin)
    assert(out == Seq("after-begin-tran", "p1-ran", "dyn-ok"), out.toString)
  }

  test("FOR cursor loop accepts an unparenthesized SELECT (reference grammar T_OPEN_P?)") {
    import org.apache.spark.sql.functions.col
    spark.range(3).createOrReplaceTempView("forsel_t")
    val out = lines(
      """FOR r IN SELECT id FROM forsel_t ORDER BY id LOOP
        |  PRINT r.id;
        |END LOOP;""".stripMargin)
    assert(out == Seq("0", "1", "2"), out.toString)
  }

  test("non-finite doubles from SQL raise a CATCHABLE conversion error") {
    val out = lines(
      """BEGIN
        |  DECLARE v DOUBLE;
        |  SELECT CAST('NaN' AS DOUBLE) INTO v;
        |  PRINT 'unreachable';
        |EXCEPTION WHEN OTHERS THEN
        |  PRINT 'caught-nan';
        |END""".stripMargin)
    assert(out == Seq("caught-nan"), out.toString)
  }

  test("comma-separated dotted declare names parse alongside dotted types") {
    // the lang.sql dotted-name fold must not derail a name LIST (`a.b, c.d`),
    // and a dotted TYPE (pkg.type one token after the name) must stay a type
    val out = lines(
      """DECLARE a.b, c.d INT;
        |DECLARE plain INT DEFAULT 7;
        |PRINT plain;""".stripMargin)
    assert(out == Seq("7"))
  }

  test("SETERROR downgrades a failing HOST command to HOSTCODE (seterror.sql)") {
    val out = lines(
      """BEGIN
        |SET hplsql.onerror = SETERROR;
        |HOST 'exit 3';
        |IF HOSTCODE <> 0 THEN
        |  PRINT 'nonzero';
        |END IF;
        |EXCEPTION WHEN OTHERS THEN
        |  PRINT 'FAIL';
        |END""".stripMargin)
    assert(out == Seq("nonzero"))
  }

  // ---- offline dialect DDL (hplsql.DialectDdl) -------------------------

  test("dialect DDL conversion keeps layout, types and table comment") {
    import graft.hplsql.DialectDdl
    assert(DialectDdl.convertScript(
      "CREATE TABLE [dbo].[orders] (\n  [id] INT NOT NULL,\n  [name] NVARCHAR(MAX),\n" +
        "  amt NUMERIC(10,2) DEFAULT (0),\n  CONSTRAINT pk PRIMARY KEY (id)\n) ON [PRIMARY]\nGO\n") ==
      Seq("CREATE TABLE `orders` (\n  `id` INT,\n  `name` STRING,\n  amt DECIMAL(10,2)\n)"))
    assert(DialectDdl.convertScript(
      "CREATE TABLE shop.items (id INT(11) NOT NULL, label VARCHAR(20) DEFAULT 'n/a', " +
        "ts DATETIME) ENGINE=InnoDB COMMENT='items';\n") ==
      Seq("CREATE TABLE shop.items (id INT, label VARCHAR(20), ts TIMESTAMP) COMMENT 'items'"))
    assert(DialectDdl.convertScript(
      "CREATE MULTISET TABLE t1, NO LOG (a INT2, b VARCHAR2(10), c NUMBER(5)) PRIMARY INDEX (a);") ==
      Seq("CREATE MULTISET TABLE t1 (a SMALLINT, b STRING, c DECIMAL(5))"))
  }

  test("dialect DDL: commas and semicolons inside string literals split nothing") {
    import graft.hplsql.DialectDdl
    assert(DialectDdl.convertScript(
      "CREATE TABLE t (id INT COMMENT 'user id, not null', name VARCHAR2(10)) " +
        "COMMENT='ids; names';") ==
      Seq("CREATE TABLE t (id INT, name STRING) COMMENT 'ids; names'"))
  }
}
