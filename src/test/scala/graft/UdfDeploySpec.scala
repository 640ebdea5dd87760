package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{FunctionDdl, UdfDeploy}
import graft.hplsql.Hplsql

/** Test-only deployable classes: boxed Short/Byte returns, which the
  * Java-to-SQL return map must cover for every deploy kind alike. */
class BoxedShortUdf {
  def evaluate(a: java.lang.Integer): java.lang.Short =
    if (a == null) null else java.lang.Short.valueOf(a.shortValue)
}

class BoxedByteUdf {
  def evaluate(a: java.lang.Integer): java.lang.Byte =
    if (a == null) null else java.lang.Byte.valueOf(a.byteValue)
}

/** Max of int inputs, terminated as a boxed Byte. */
class ByteMaxUdaf {
  private var cur: java.lang.Integer = null
  def init(): Unit = { cur = null }
  def iterate(v: java.lang.Integer): Boolean = {
    if (v != null && (cur == null || v > cur)) cur = v; true
  }
  def terminatePartial(): java.lang.Integer = cur
  def merge(p: java.lang.Integer): Boolean = iterate(p)
  def terminate(): java.lang.Byte =
    if (cur == null) null else java.lang.Byte.valueOf(cur.byteValue)
}

/** Compiled-UDF deployment (functions/UdfDeploy — FunctionTask.java /
  * exec/UDF.java evaluate-convention analog). Pins: DDL deploys and
  * drops; overload resolution by argument types; null short-circuit for
  * primitive params vs null flow-through for boxed; bad classes fail at
  * DDL time (not first query); procedural CREATE FUNCTION bodies still
  * parse (the AS-string form must not swallow them). */
class UdfDeploySpec extends AnyFunSuite {
  import TestSession._

  test("deploy via DDL, call from SQL, overloads resolve by type, drop deregisters") {
    Hplsql.run(spark,
      "CREATE TEMPORARY FUNCTION t_add AS 'graft.examples.ExampleAddUdf';")
    try {
      val r = spark.sql(
        "SELECT t_add(3, 4) AS i, t_add(cast(1.5 as double), cast(2.25 as double)) AS d")
        .collect()(0)
      assert(r.getInt(0) == 7)
      assert(r.getDouble(1) == 3.75)
      // the Int overload returns IntegerType, the Double one DoubleType
      val sch = spark.sql("SELECT t_add(1, 2) AS a, t_add(1.0d, 2.0d) AS b").schema
      assert(sch("a").dataType.typeName == "integer")
      assert(sch("b").dataType.typeName == "double")
    } finally Hplsql.run(spark, "DROP TEMPORARY FUNCTION t_add;")
    intercept[Exception](spark.sql("SELECT t_add(1, 2)").collect())
  }

  test("null semantics: primitive params short-circuit, boxed String flows through") {
    UdfDeploy.create(spark, "t_add2", "graft.examples.ExampleAddUdf")
    UdfDeploy.create(spark, "t_redact", "graft.examples.ExampleRedactDigitsUdf")
    try {
      val r = spark.sql(
        "SELECT t_add2(cast(null as int), 4) AS n, t_redact('a1b2') AS s, " +
          "t_redact(cast(null as string)) AS sn").collect()(0)
      assert(r.isNullAt(0)) // primitive param + null arg -> null, UDF never runs
      assert(r.getString(1) == "a#b#")
      assert(r.isNullAt(2)) // boxed param: the class saw the null and chose null
    } finally { UdfDeploy.drop(spark, "t_add2"); UdfDeploy.drop(spark, "t_redact") }
  }

  test("bad deployments fail at DDL time; USING JAR is refused with direction") {
    intercept[Exception](
      FunctionDdl.run(spark, "CREATE TEMPORARY FUNCTION nope AS 'no.such.Class'"))
    intercept[IllegalArgumentException](
      FunctionDdl.run(spark,
        "CREATE TEMPORARY FUNCTION nope AS 'graft.examples.ExampleAddUdf' USING JAR '/x.jar'"))
    // a class without evaluate is refused by the convention check
    intercept[Exception](
      FunctionDdl.run(spark, "CREATE TEMPORARY FUNCTION nope AS 'java.lang.String'"))
  }

  test("UDAF convention auto-detected: partial/merge lifecycle matches a builtin plan") {
    Hplsql.run(spark,
      "CREATE TEMPORARY FUNCTION t_avg AS 'graft.examples.ExampleAvgUdaf';")
    try {
      // many partitions force the terminatePartial -> serialize ->
      // deserialize -> merge lane, not just a single-buffer fast path
      spark.range(0, 1000).selectExpr("cast(id as double) AS v",
          "cast(id % 7 as int) AS k")
        .repartition(8).createOrReplaceTempView("t_udaf_in")
      val got = spark.sql(
        "SELECT k, t_avg(v) AS a FROM t_udaf_in GROUP BY k ORDER BY k").collect()
      val want = spark.sql(
        "SELECT k, avg(v) AS a FROM t_udaf_in GROUP BY k ORDER BY k").collect()
      assert(got.map(_.getDouble(1)).toSeq == want.map(_.getDouble(1)).toSeq)
      // the plan is a normal two-phase aggregate: the PARTIAL marker must
      // be present (the bare function name appears in any plan string, so
      // checking it alone would be vacuous)
      val plan = spark.sql("SELECT k, t_avg(v) FROM t_udaf_in GROUP BY k")
        .queryExecution.executedPlan.toString
      assert(plan.contains("partial_t_avg"), s"no map-side partial in plan:\n$plan")
      // empty group never iterated: terminate() on init state -> null
      val empty = spark.sql(
        "SELECT t_avg(v) AS a FROM t_udaf_in WHERE v < 0").collect()(0)
      assert(empty.isNullAt(0))
      // widening: the evaluator declares iterate(Double); an INT column
      // coerces int -> double like the reference's ConversionHelper,
      // instead of failing the exact-signature lookup
      val wide = spark.sql(
        "SELECT t_avg(cast(k AS INT)) AS a FROM t_udaf_in").collect()(0).getDouble(0)
      val wideWant = spark.sql(
        "SELECT avg(cast(k AS INT)) AS a FROM t_udaf_in").collect()(0).getDouble(0)
      assert(wide == wideWant, s"widened int->double iterate: $wide vs $wideWant")
    } finally Hplsql.run(spark, "DROP TEMPORARY FUNCTION t_avg;")
  }

  test("UDAF with String partial (ExampleMaxUdaf) survives the shuffle lane") {
    UdfDeploy.create(spark, "t_smax", "graft.examples.ExampleMaxUdaf")
    try {
      spark.range(0, 500).selectExpr("concat('v', lpad(cast(id as string), 4, '0')) AS s")
        .repartition(8).createOrReplaceTempView("t_smax_in")
      val r = spark.sql("SELECT t_smax(s) AS m FROM t_smax_in").collect()(0)
      assert(r.getString(0) == "v0499")
    } finally UdfDeploy.drop(spark, "t_smax")
  }

  test("UDTF convention auto-detected: generator in select list and LATERAL VIEW") {
    Hplsql.run(spark,
      "CREATE TEMPORARY FUNCTION t_split AS 'graft.examples.ExampleSplitUdtf';")
    try {
      val rows = spark.sql(
        "SELECT t_split('a b c', ' ')").collect()
      assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
        Seq((0, "a"), (1, "b"), (2, "c")))
      // LATERAL VIEW spelling lands in the same Generate node
      spark.sql("SELECT 'x y' AS s").createOrReplaceTempView("t_udtf_in")
      val lv = spark.sql(
        "SELECT s, pos, token FROM t_udtf_in LATERAL VIEW t_split(s, ' ') g AS pos, token")
        .collect()
      assert(lv.length == 2 && lv(1).getString(2) == "y")
      // null into a boxed String param: the class chose zero rows
      assert(spark.sql("SELECT t_split(cast(null as string), ' ')").collect().isEmpty)
      // declared schema drives downstream typing
      val sch = spark.sql("SELECT t_split('a', ' ')").schema
      assert(sch("pos").dataType.typeName == "integer")
      assert(sch("token").dataType.typeName == "string")
    } finally Hplsql.run(spark, "DROP TEMPORARY FUNCTION t_split;")
  }

  test("procedural CREATE FUNCTION still parses: AS-string is the only passthrough shape") {
    val out = Hplsql.run(spark,
      """CREATE FUNCTION twice(x INT) RETURNS INT
        |BEGIN
        |  RETURN x * 2;
        |END;
        |PRINT twice(21);""".stripMargin).output
    assert(out.trim == "42")
  }

  test("boxed Short/Byte returns type the column, for UDFs and UDAFs alike") {
    UdfDeploy.create(spark, "t_short", "graft.BoxedShortUdf")
    UdfDeploy.create(spark, "t_byte", "graft.BoxedByteUdf")
    UdfDeploy.create(spark, "t_bmax", "graft.ByteMaxUdaf")
    try {
      val df = spark.sql("SELECT t_short(7) AS s, t_byte(9) AS b, t_short(cast(null as int)) AS n")
      assert(df.schema("s").dataType.typeName == "short")
      assert(df.schema("b").dataType.typeName == "byte")
      val r = df.collect()(0)
      assert(r.getShort(0) == 7.toShort && r.getByte(1) == 9.toByte && r.isNullAt(2))
      val agg = spark.range(0, 100).selectExpr("cast(id % 50 as int) AS v").repartition(4)
        .selectExpr("t_bmax(v) AS m")
      assert(agg.schema("m").dataType.typeName == "byte")
      assert(agg.collect()(0).getByte(0) == 49.toByte)
    } finally {
      UdfDeploy.drop(spark, "t_short"); UdfDeploy.drop(spark, "t_byte")
      UdfDeploy.drop(spark, "t_bmax")
    }
  }

  test("scalar evaluate lookup widens int to double when no exact overload fits") {
    UdfDeploy.create(spark, "t_add3", "graft.examples.ExampleAddUdf")
    try {
      val df = spark.sql("SELECT t_add3(1, cast(2.25 as double)) AS w")
      assert(df.schema("w").dataType.typeName == "double") // evaluate(Double, Double)
      assert(df.collect()(0).getDouble(0) == 3.25)
    } finally UdfDeploy.drop(spark, "t_add3")
  }
}
