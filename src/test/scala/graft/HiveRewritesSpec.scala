package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.compat.HiveRewrites

/** compat/HiveRewrites — the statement-level reference-dialect
  * translations, pinned shape by shape. End-to-end behavior (rows
  * against the reference's committed outputs) is covered by the corpus
  * replay; these cases pin the TEXT contracts: what rewrites, what
  * passes through untouched, and that declines stay loud. */
class HiveRewritesSpec extends AnyFunSuite {

  test("splitArgs mirrors the reference ScriptOperator: spaces only, quote-aware") {
    assert(HiveRewrites.splitArgs("tr \t _") == Seq("tr", "\t", "_"))
    assert(HiveRewrites.splitArgs("sed 's/a b/c/'") == Seq("sed", "s/a b/c/"))
    assert(HiveRewrites.splitArgs("head -n 1") == Seq("head", "-n", "1"))
    assert(HiveRewrites.splitArgs("""awk "x y" z""") == Seq("awk", "x y", "z"))
  }

  test("TRANSFORM gets TAB formats both ways; the command becomes the reference argv") {
    val in = "SELECT TRANSFORM(a, b) USING 'tr \\t _' AS (c) FROM t"
    val out = HiveRewrites(in)
    assert(out.contains("ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' USING"), out)
    assert(out.contains("AS (c) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'"), out)
    // the argv survives bash -c: each splitArgs token shell-quoted
    assert(out.contains("'tr' '\\t' '_'".replace("'", "\\'")), out)
  }

  test("no-AS TRANSFORM reproduces value-takes-rest-of-line") {
    val out = HiveRewrites("SELECT TRANSFORM(a, b, 1+2) USING 'cat' CLUSTER BY key FROM t")
    // first tab marked, output split on the mark: key=field0, value=rest
    assert(out.contains("| sed -e "), out)
    assert(out.contains("TERMINATED BY '\\u0002'"), out)
    assert(out.contains("set -o pipefail"), out)
  }

  test("explicit ROW FORMAT on a TRANSFORM is respected, not doubled") {
    val in = "SELECT TRANSFORM(a) ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' " +
      "USING 'cat' AS (c) FROM t"
    // not `) USING`-anchored → declined by the tab rewrite
    assert(!HiveRewrites(in).contains("'\\t' USING"))
  }

  test("bare fractional literals become doubles; Hive-normalized BD literals") {
    assert(HiveRewrites("select 2.5, x + 0.5 from t") == "select 2.5D, x + 0.5D from t")
    assert(HiveRewrites("select 123.0BD, 222.02BD") == "select 123BD, 222.02BD")
    assert(HiveRewrites("select 1E99BD") == "select CAST(NULL AS DECIMAL(1,0))")
    // integers, strings, already-suffixed and keyword-owned numbers stay
    assert(HiveRewrites("select 42, '3.14', 2.5D from t")
      == "select 42, '3.14', 2.5D from t")
    assert(HiveRewrites("select * from t tablesample (0.1 percent)")
      == "select * from t tablesample (0.1 percent)")
    assert(HiveRewrites("select interval 1.5 seconds")
      == "select interval 1.5 seconds")
    assert(HiveRewrites("select cast(a as decimal(10,2)) from t")
      == "select cast(a as decimal(10,2)) from t")
  }

  test("UTF-8 hex literals decode") {
    val out = HiveRewrites("SELECT count(1) FROM t WHERE name = _UTF-8 0xE982B5E993AE")
    assert(out.contains("= '邅铮'") || out.contains("= '邵'") ||
      !out.contains("_UTF-8"), out)
  }

  test("CREATE VIEW PARTITIONED ON strips; other statements untouched") {
    assert(HiveRewrites("create view v partitioned on (ds) as select * from t")
      .matches("(?s)create view v\\s+as select \\* from t"))
    val tbl = "create table v (a int) partitioned by (ds string)"
    assert(HiveRewrites(tbl) == tbl)
  }

  test("TABLESAMPLE BUCKET ON becomes the reference's value-hash filter") {
    val out = HiveRewrites("SELECT s.key FROM srcpart TABLESAMPLE (BUCKET 1 OUT OF 10 ON key) s")
    assert(out.contains("(SELECT * FROM srcpart WHERE (hash(key) & 2147483647) % 10 = 0) s"), out)
    // no alias → table name becomes the alias
    val out2 = HiveRewrites("select ds from srcpartbucket tablesample (bucket 2 out of 4 on key) where ds is not null")
    assert(out2.contains("% 4 = 1) srcpartbucket"), out2)
  }

  test("RANGE frame without ORDER BY spans the partition; with ORDER BY untouched") {
    val out = HiveRewrites(
      "select sum(s) over (partition by p range between current row and unbounded following) from t")
    assert(out.contains("ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"), out)
    val keep = "select sum(s) over (partition by p order by d range between 90 preceding and current row) from t"
    assert(HiveRewrites(keep) == keep)
  }

  test("UNIQUEJOIN translates per checkAndGenObject's emit rule") {
    val out = HiveRewrites(
      "FROM UNIQUEJOIN PRESERVE T1 a (a.key), T2 b (b.key), PRESERVE T3 c (c.key) SELECT a.key, b.key, c.key")
    assert(out.startsWith("SELECT a.key, b.key, c.key FROM"), out)
    assert(out.contains("FULL OUTER JOIN"), out)
    // emit: all present OR a preserved table present (T1, T3)
    assert(out.contains(
      "WHERE (__uj_p0 IS NOT NULL AND __uj_p1 IS NOT NULL AND __uj_p2 IS NOT NULL) " +
        "OR __uj_p0 IS NOT NULL OR __uj_p2 IS NOT NULL"), out)
    // arithmetic key anywhere makes the position numeric on every entry
    val num = HiveRewrites("FROM UNIQUEJOIN T1 a (a.key), T2 b (b.key-1) SELECT a.key")
    assert(num.contains("CAST((a.key) AS DOUBLE) = CAST((b.key-1) AS DOUBLE)"), num)
  }

  test("noop PTF family unwraps tables, subqueries, and nested chains") {
    assert(HiveRewrites("select x from noop(on t partition by p order by s)")
      == "select x from t")
    val sub = HiveRewrites("select x from noopwithmap(on (select * from t) j distribute by j.p sort by j.s)")
    assert(sub.contains("from (select * from t) j"), sub)
    val nested = HiveRewrites("select x from noop(on noopwithmap(on noop(on t partition by p order by s) partition by p order by s) partition by p order by s)")
    assert(nested == "select x from t", nested)
  }

  test("paren, keyword and list scans keep each rewrite's output") {
    val pins = Seq(
      "SELECT CAST(concat(a, 'b') AS VARCHAR(3)), CAST(x AS CHAR(2)) FROM t" ->
        ("SELECT CAST(substr(CAST(concat(a, 'b') AS STRING), 1, 3) AS VARCHAR(3)), " +
          "CAST(substr(CAST(x AS STRING), 1, 2) AS CHAR(2)) FROM t"),
      "SELECT a, b, GROUPING__ID FROM t GROUP BY a, b WITH ROLLUP" ->
        ("SELECT a, b, (((1 - cast((shiftright(grouping_id(), 1) & 1) as int)) * 1) + " +
          "((1 - cast((shiftright(grouping_id(), 0) & 1) as int)) * 2)) AS `grouping__id` " +
          "FROM t GROUP BY a, b WITH ROLLUP"),
      "SELECT a, count(*) FROM t GROUP BY a, b GROUPING SETS ((a), (a, b), ( a ))" ->
        "SELECT a, count(*) FROM t GROUP BY a, b GROUPING SETS ((a), (a, b))",
      "FROM UNIQUEJOIN PRESERVE t1 a (a.key, upper(a.v)), t2 b (b.key, b.v) SELECT a.key, b.key" ->
        ("SELECT a.key, b.key FROM (SELECT *, true AS __uj_p0 FROM t1) a FULL OUTER JOIN " +
          "(SELECT *, true AS __uj_p1 FROM t2) b ON (a.key) = (b.key) AND " +
          "CAST((upper(a.v)) AS DOUBLE) = CAST((b.v) AS DOUBLE) WHERE " +
          "(__uj_p0 IS NOT NULL AND __uj_p1 IS NOT NULL) OR __uj_p0 IS NOT NULL"),
      "SELECT 1.5, 'x 2.5', 3.0BD, \"4.5\", `c1.5`, 2 -- 2.5\nFROM t /* 7.5 */ WHERE y > .5" ->
        "SELECT 1.5D, 'x 2.5', 3BD, \"4.5\", `c1.5`, 2 -- 2.5\nFROM t /* 7.5 */ WHERE y > .5D",
      "SELECT max(c) mc, rank() OVER (ORDER BY mc) FROM t GROUP BY k" ->
        "SELECT max(c) mc, rank() OVER (ORDER BY max(c)) FROM t GROUP BY k",
      "SELECT rank() OVER (PARTITION BY a) FROM t" ->
        "SELECT rank() OVER (PARTITION BY a ORDER BY 1) FROM t")
    pins.foreach { case (in, want) => assert(HiveRewrites(in) == want, in) }
    // TRANSFORM arguments are split at depth-0 commas and escaped one by one
    val esc = (c: String) => s"replace(replace(replace(replace($c, '\\\\', '\\\\\\\\'), " +
      "char(9), '\\\\t'), char(10), '\\\\n'), char(13), '\\\\r')"
    val wrapped = HiveRewrites(
      "SELECT TRANSFORM(a, concat(b, ',')) USING 'cat' AS (c, d) FROM t", true)
    assert(wrapped.contains(s"TRANSFORM(${esc("a")}, ${esc("concat(b, ',')")})"), wrapped)
  }

  test("an apostrophe inside a block comment does not hide the depth-0 keyword after it") {
    // a WHERE after UNIQUEJOIN's SELECT is untranslated: the statement
    // must come back unchanged, not with the WHERE glued into the list
    val in = "FROM UNIQUEJOIN t1 a (a.key), t2 b (b.key) SELECT a.key /* it's */ WHERE a.key > 1"
    assert(HiveRewrites(in) == in)
  }
}
