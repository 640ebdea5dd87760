package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.QualifyRewrite

/** QUALIFY clause (plans/QualifyRewrite through the injected parser).
  * Pins: evaluation order (after windows, before ORDER BY), parity with
  * the explicit subquery, subquery-level QUALIFY, and that strings /
  * identifiers containing the word are never rewritten. */
class QualifySpec extends AnyFunSuite {
  import TestSession._

  test("top-level QUALIFY filters on window predicates; parity with explicit subquery") {
    Tables.orders(spark, sf).createOrReplaceTempView("qspec_orders")
    val q = spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM qspec_orders
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY o_custkey""".stripMargin).collect().toSeq
    val manual = spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM qspec_orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin).collect().toSeq
    assert(q.nonEmpty && q == manual)
  }

  test("QUALIFY inside a parenthesized subquery rewrites too") {
    Tables.orders(spark, sf).createOrReplaceTempView("qspec_orders")
    val n = spark.sql(
      """SELECT count(*) AS n FROM (
        |  SELECT o_custkey FROM qspec_orders
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1
        |)""".stripMargin).collect()(0).getLong(0)
    val distinct = spark.sql("SELECT count(DISTINCT o_custkey) AS n FROM qspec_orders")
      .collect()(0).getLong(0)
    assert(n == distinct)
  }

  test("strings and identifiers containing the word are untouched; no-keyword passthrough is identity") {
    assert(QualifyRewrite.rewrite("SELECT 1") == "SELECT 1")
    assert(QualifyRewrite.rewrite("SELECT 'has QUALIFY inside' AS s FROM t") ==
      "SELECT 'has QUALIFY inside' AS s FROM t")
    assert(QualifyRewrite.rewrite("SELECT qualifying FROM t") ==
      "SELECT qualifying FROM t")
    assert(QualifyRewrite.rewrite("SELECT `QUALIFY` FROM t") ==
      "SELECT `QUALIFY` FROM t")
    // the real thing does rewrite
    val r = QualifyRewrite.rewrite(
      "SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1")
    assert(r.contains("__qualify") && r.toUpperCase.contains("EXCEPT"))
    // comments are not parsed for keywords
    assert(QualifyRewrite.rewrite("SELECT a FROM t -- QUALIFY nope\n") ==
      "SELECT a FROM t -- QUALIFY nope\n")
  }

  test("SELECT DISTINCT: QUALIFY filters BEFORE dedup and the predicate never widens the key") {
    Tables.orders(spark, sf).createOrReplaceTempView("qspec_orders")
    // keep each customer's best-priced order row, then distinct statuses
    val q = spark.sql(
      """SELECT DISTINCT o_orderstatus FROM qspec_orders
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY o_orderstatus""".stripMargin).collect().map(_.getString(0)).toSeq
    val manual = spark.sql(
      """SELECT DISTINCT o_orderstatus FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM qspec_orders) t
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(q == manual && q.size >= 1)
  }

  test("a set operator after QUALIFY bounds the predicate to its own branch") {
    Tables.orders(spark, sf).createOrReplaceTempView("qspec_orders")
    val rows = spark.sql(
      """SELECT o_custkey AS k FROM qspec_orders
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1
        |UNION ALL
        |SELECT -1 AS k""".stripMargin).collect().map(_.getLong(0)).toSeq
    val distinct = spark.sql("SELECT count(DISTINCT o_custkey) FROM qspec_orders")
      .collect()(0).getLong(0)
    assert(rows.size == distinct + 1 && rows.contains(-1L))
  }

  test("ORDER BY and LIMIT after QUALIFY apply to the filtered result") {
    Tables.orders(spark, sf).createOrReplaceTempView("qspec_orders")
    val rows = spark.sql(
      """SELECT o_custkey, o_totalprice FROM qspec_orders
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) = 1
        |ORDER BY o_totalprice DESC LIMIT 3""".stripMargin).collect().toSeq
    assert(rows.size == 3)
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p.head >= p.last))
  }

  test("LIMIT offset, count (HiveParser.g limitClause) = LIMIT count OFFSET offset") {
    Tables.orders(spark, sf).createOrReplaceTempView("qspec_orders")
    val hive = spark.sql(
      "SELECT o_orderkey FROM qspec_orders ORDER BY o_orderkey LIMIT 5, 7")
      .collect().map(_.getLong(0)).toSeq
    val std = spark.sql(
      "SELECT o_orderkey FROM qspec_orders ORDER BY o_orderkey LIMIT 7 OFFSET 5")
      .collect().map(_.getLong(0)).toSeq
    assert(hive == std && hive.size == 7)
    // the rewrite never touches literals or non-integer limit shapes
    assert(spark.sql("SELECT 'limit 1, 2' AS s").collect()(0).getString(0) == "limit 1, 2")
    assert(graft.plans.LimitCommaRewrite.rewrite("select xlimit 3, 4 from t")
      == "select xlimit 3, 4 from t")
  }

  test("an apostrophe inside a /* */ comment does not desync the scanners") {
    // before the fix the odd quote count made the scanner treat the
    // string literal as code and rewrite the text inside it
    val tricky = "/* don't */ SELECT 'limit 1, 2' AS s"
    assert(graft.plans.LimitCommaRewrite.rewrite(tricky) == tricky)
    assert(spark.sql(tricky).collect()(0).getString(0) == "limit 1, 2")
    val q = "/* isn't a qualify */ SELECT 'qualify x' AS s"
    assert(graft.plans.QualifyRewrite.rewrite(q) == q)
    // and a comma-LIMIT after a comment with an apostrophe still rewrites
    Tables.orders(spark, sf).createOrReplaceTempView("qspec_orders")
    val rows = spark.sql(
      "/* don't */ SELECT o_orderkey FROM qspec_orders ORDER BY o_orderkey LIMIT 5, 7")
      .collect().map(_.getLong(0)).toSeq
    val std = spark.sql(
      "SELECT o_orderkey FROM qspec_orders ORDER BY o_orderkey LIMIT 7 OFFSET 5")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == std && rows.size == 7)
  }

  test("rewrite text is pinned for nested blocks, comments and set operators") {
    assert(QualifyRewrite.rewrite(
      "SELECT a, (SELECT max(b) FROM u QUALIFY rank() OVER (ORDER BY b) = 1) AS m FROM t " +
        "QUALIFY row_number() OVER (PARTITION BY a ORDER BY c) = 1 ORDER BY a LIMIT 3") ==
      "SELECT * EXCEPT (__qualify) FROM (SELECT a, (SELECT * EXCEPT (__qualify) FROM " +
        "(SELECT max(b) , (rank() OVER (ORDER BY b) = 1) AS __qualify FROM u ) __qualify_q " +
        "WHERE __qualify ) AS m , (row_number() OVER (PARTITION BY a ORDER BY c) = 1) AS " +
        "__qualify FROM t ) __qualify_q WHERE __qualify ORDER BY a LIMIT 3")
    assert(QualifyRewrite.rewrite(
      "SELECT DISTINCT a FROM t -- note\nQUALIFY sum(b) OVER (PARTITION BY a) > 1 " +
        "UNION ALL SELECT 'QUALIFY' FROM u") ==
      "SELECT DISTINCT * EXCEPT (__qualify) FROM (SELECT  a , (sum(b) OVER (PARTITION BY a) > 1) " +
        "AS __qualify FROM t -- note\n) __qualify_q WHERE __qualify UNION ALL SELECT 'QUALIFY' FROM u")
    assert(graft.plans.LimitCommaRewrite.rewrite(
      "SELECT * FROM (SELECT a FROM t LIMIT 2, 3) s -- limit 1, 2\nLIMIT 4 , 5") ==
      "SELECT * FROM (SELECT a FROM t LIMIT 3 OFFSET 2) s -- limit 1, 2\nLIMIT 5 OFFSET 4")
  }
}
