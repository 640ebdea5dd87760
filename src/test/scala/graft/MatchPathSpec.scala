package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `matchpath` PTF (operators/MatchPathSql): the matcher's iterator
  * arithmetic, derived by hand from the reference's MatchPath.java
  * (Symbol/Plus/Chain, lines 446-603), and the SQL invocation form. */
class MatchPathSpec extends AnyFunSuite {
  import TestSession._

  test("matchpath matcher: reference Plus/Chain arithmetic") {
    import spark.implicits._
    // LATE.LATE+ over delays (T,T,T,F,T): overlapping matches at rows
    // 1 (sz 3) and 2 (sz 2); the F row ends the greedy run
    val df = Seq((1, 1, 23.0), (1, 2, 105.0), (1, 3, 54.0),
                 (1, 4, -14.0), (1, 5, 21.0)).toDF("k", "seq", "delay")
    val out = operators.MatchPathSql.matchPath(spark, df,
      Seq("k"), Seq("seq"), "LATE.LATE+", Seq("late" -> "delay > 15"),
      Seq("seq as start_seq", "size(tpath) as sz"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(out == Seq((1, 3), (2, 2)))
    // end-of-partition quirk: over (T,T,T) the `+` exits on !hasNext
    // with nextRow = idx-1, so the LAST matched row is not consumed —
    // matches are (row1, sz2) and (row2, sz1), never sz3
    // (MatchPath.java Plus.match:536 vs Star.match:500)
    val df2 = Seq((1, 1, 99.0), (1, 2, 99.0), (1, 3, 99.0))
      .toDF("k", "seq", "delay")
    val out2 = operators.MatchPathSql.matchPath(spark, df2,
      Seq("k"), Seq("seq"), "LATE.LATE+", Seq("late" -> "delay > 15"),
      Seq("seq as start_seq", "size(tpath) as sz"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(out2 == Seq((1, 2), (2, 1)))
  }

  private def events(): Unit = {
    import spark.implicits._
    Seq((1, 1, "view"), (1, 2, "view"), (1, 3, "purchase"), (1, 4, "view"),
        (2, 5, "purchase"), (2, 6, "view"), (2, 7, "purchase"))
      .toDF("uid", "seq", "et").createOrReplaceTempView("r13_mp")
  }

  test("matchpath SQL invocation form end to end") {
    events()
    val sql =
      """select uid, v, p from matchpath(on r13_mp
        |    distribute by uid sort by seq
        |  arg1('V.P'), arg2('V'), arg3(et = 'view'),
        |  arg4('P'), arg5(et = 'purchase'),
        |  arg6('uid, seq as v, tpath[1].seq as p'))
        |order by uid, v""".stripMargin
    val got = spark.sql(operators.MatchPathSql.rewrite(spark, sql))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got == Seq((1, 2, 3), (2, 6, 7)))
  }

  test("matchpath SQL: subquery input, partition/order spelling, quoted commas in arguments") {
    events()
    val sql =
      """select uid, v, tag from matchpath(on (select * from r13_mp where uid > 0) t
        |    partition by uid order by seq
        |  arg1('V.P'), arg2('V'), arg3(et in ('view', 'x,y')),
        |  arg4('P'), arg5(et = 'purchase'),
        |  arg6('uid, seq as v, concat(et, '','') as tag'))
        |order by uid, v""".stripMargin
    val got = spark.sql(operators.MatchPathSql.rewrite(spark, sql))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
    assert(got == Seq((1, 2, "view,"), (2, 6, "view,")))
  }
}
