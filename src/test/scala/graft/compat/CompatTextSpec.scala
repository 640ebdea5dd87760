package graft.compat

import org.scalatest.funsuite.AnyFunSuite

/** The compat lane's SQL-text helpers that only the corpus replay
  * reaches: the .q statement splitter, the outer-join filter push, the
  * top-level ORDER BY probe and the staged UPDATE. Without the reference
  * corpus the replay specs cancel, so these pins are their cover. */
class CompatTextSpec extends AnyFunSuite {
  import graft.TestSession._

  private val qFile =
    "set hive.x=1;\n-- a comment; with 'quote\nCREATE TABLE t (a STRING);\n" +
      "INSERT INTO t VALUES ('x;y'), (\"a\\\"b;\");\ndfs -ls /tmp;\n" +
      "SELECT * FROM t; -- trailing\nadd jar x.jar;\nSELECT 1\n"

  test(".q files split at semicolons outside literals and comments") {
    assert(QTestSource.parseQ(qFile) == Seq(
      "CREATE TABLE t (a STRING)",
      "INSERT INTO t VALUES ('x;y'), (\"a\\\"b;\")",
      "SELECT * FROM t",
      "SELECT 1"))
    assert(QTestSource.parseQWithCommands(qFile) == Seq(
      Seq("set hive.x=1") -> "CREATE TABLE t (a STRING)",
      Seq() -> "INSERT INTO t VALUES ('x;y'), (\"a\\\"b;\")",
      Seq("dfs -ls /tmp") -> "SELECT * FROM t",
      Seq() -> "SELECT 1"))
  }

  test("outer-join ON conjuncts split at depth-0 AND, not inside literals or parens") {
    assert(HiveRewrites.outerJoinFilterPush(
      "SELECT * FROM t1 a LEFT OUTER JOIN t2 b ON (a.k = b.k AND b.v > 1.5 AND a.x = 'AND') " +
        "WHERE a.y = 1") ==
      "SELECT * FROM (SELECT * FROM t1 a WHERE a.x = 'AND') a LEFT OUTER JOIN " +
        "(SELECT * FROM t2 b WHERE b.v > 1.5) b ON a.k = b.k WHERE a.y = 1")
    assert(HiveRewrites.outerJoinFilterPush(
      "SELECT * FROM t1 a LEFT OUTER JOIN t2 b ON a.k = b.k AND b.v IN (1, 2) " +
        "JOIN t3 c ON c.k = a.k AND c.z = 0 ORDER BY a.k") ==
      "SELECT * FROM t1 a LEFT OUTER JOIN (SELECT * FROM t2 b WHERE b.v IN (1, 2)) b " +
        "ON a.k = b.k JOIN (SELECT * FROM t3 c WHERE c.z = 0) c ON c.k = a.k ORDER BY a.k")
  }

  test("only a depth-0 ORDER BY outside comments pins the output order") {
    assert(!QTestCompare.topLevelOrderBy("SELECT * FROM (SELECT a FROM t ORDER BY a) s"))
    assert(QTestCompare.topLevelOrderBy("SELECT a FROM t -- order by\nORDER BY a"))
    assert(!QTestCompare.topLevelOrderBy("SELECT 'order by' AS o FROM t"))
  }

  test("UPDATE SET splits its assignments outside string literals") {
    // its own session, set up as the replay's: the DML swap toggles the
    // session's partition overwrite mode
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    import s.implicits._
    s.sql("DROP TABLE IF EXISTS compat_dml_t")
    s.sql("CREATE TABLE compat_dml_t (s STRING, n INT) USING parquet")
    try {
      Seq(("x", 0), ("y", 5)).toDF("s", "n").write.insertInto("compat_dml_t")
      assert(QTestStatements.runDml(s, "UPDATE compat_dml_t SET s = 'a,b', n = 1 WHERE n = 0"))
      val rows = s.table("compat_dml_t").collect()
        .map(r => (r.getString(0), r.getInt(1))).sortBy(_._2).toSeq
      assert(rows == Seq(("a,b", 1), ("y", 5)))
    } finally { s.sql("DROP TABLE IF EXISTS compat_dml_t"); () }
  }
}
