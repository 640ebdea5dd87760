package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HiveReflect

/** Reports the class of the argument a reflected method received. */
class ReflectArgProbe {
  def describe(o: Object): String = s"${o.getClass.getName}:$o"
}

/** The reference-dialect `reflect` / `java_method`
  * (functions/HiveReflect — GenericUDFReflect.java): resolved at
  * evaluation time, a default-constructed instance, stringified results,
  * NULL on an invocation failure. Runs in its own session, registered as
  * the compat replay registers it. */
class HiveReflectSpec extends AnyFunSuite {
  import TestSession._

  private lazy val s = {
    val s = spark.newSession()
    HiveReflect.register(s)
    s
  }

  test("a bogus reflect in a never-taken CASE branch does not fail the query") {
    val rows = s.sql(
      "SELECT CASE WHEN id < 0 THEN reflect('no.such.Cls', 'nope') " +
        "ELSE 'ok' END AS v FROM range(3)").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("ok", "ok", "ok"))
  }

  test("default instance, stringified results, NULL on a throwing call") {
    val df = s.sql(
      """SELECT reflect('java.lang.String', 'isEmpty') AS e,
        |       reflect('java.lang.Math', 'max', 3, 4) AS m,
        |       java_method('java.lang.Integer', 'parseInt', '42') AS p,
        |       reflect('java.lang.Integer', 'parseInt', 'abc') AS bad
        |""".stripMargin)
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val r = df.collect()(0)
    assert(r.getString(0) == "true") // new String().isEmpty()
    assert(r.getString(1) == "4")
    assert(r.getString(2) == "42")
    assert(r.isNullAt(3)) // NumberFormatException -> NULL
  }

  test("decimal and date arguments reach the method as BigDecimal and java.sql.Date") {
    val r = s.sql(
      """SELECT reflect('graft.ReflectArgProbe', 'describe', cast(1.50 as decimal(4,2))) AS d,
        |       reflect('graft.ReflectArgProbe', 'describe', cast('2024-01-15' as date)) AS dt
        |""".stripMargin).collect()(0)
    assert(r.getString(0) == "java.math.BigDecimal:1.50")
    assert(r.getString(1) == "java.sql.Date:2024-01-15")
  }
}
