package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** compute_stats (functions/ComputeStats — GenericUDAFComputeStats.java
  * + NumDistinctValueEstimator.java) pinned against the reference's OWN
  * committed expected outputs (ql/src/test/results/clientpositive/
  * compute_stats_{long,string,boolean,double,empty_table}.q.out) over
  * the reference's committed data files — including the byte-exact FM
  * `ndvbitvector` text, which only matches if the a/b hash draws, the
  * 2^30 negative adjustment, and the least-significant-bit walk are all
  * reproduced bit-for-bit. The corpus replay re-checks these through
  * SQL; this spec keeps the pin even where file-level skips move. */
class ComputeStatsSpec extends AnyFunSuite {
  import TestSession._

  private val data = "/root/reference/data/files"

  private lazy val s = {
    val ns = spark.newSession()
    graft.functions.HiveComputeStats.register(ns)
    ns
  }

  /** LazySimpleSerDe single-column read: field = text up to the first U+0001; non-string types NULL out empty/unparseable fields (the
    * reference's lazy primitive parsing), strings keep raw bytes. Cancels, like the corpus replay specs, when the
    * reference's data files are absent. */
  private def one(table: String, file: String, colType: String): String = {
    assume(Files.exists(Paths.get(s"$data/$file")), "reference corpus not present on this machine")
    val first = "split(value, '\\u0001')[0]"
    val colExpr =
      if (colType == "string") s"$first AS a"
      else s"CAST(nullif($first, '') AS $colType) AS a"
    s.read.text(s"$data/$file").selectExpr(colExpr).createOrReplaceTempView(table)
    s.sql(s"select compute_stats(a, 16) from $table").collect()(0).getString(0)
  }

  test("long stats match compute_stats_long.q.out verbatim") {
    assert(one("cs_int", "int.txt", "int") ==
      """{"columntype":"Long","min":4,"max":344,"countnulls":1,"numdistinctvalues":11,""" +
        """"ndvbitvector":"{0, 1, 2, 3}{0, 2, 5}{0, 1, 2, 3, 4}{0, 1, 2, 4, 6, 7}{0, 1, 2, 4}""" +
        """{0, 1, 2, 4, 5}{0, 1, 2, 5}{0, 1, 2}{0, 1, 2, 3}{0, 1, 3, 4}{0, 1, 2, 5, 6}""" +
        """{0, 1, 2, 3}{0, 1, 3}{0, 1, 2, 3}{0, 1, 2, 3, 10}{0, 1, 2, 4}"}""")
  }

  test("string stats match compute_stats_string.q.out verbatim") {
    assert(one("cs_str", "string.txt", "string") ==
      """{"columntype":"String","maxlength":11,"avglength":3.9,"countnulls":0,""" +
        """"numdistinctvalues":7,""" +
        """"ndvbitvector":"{0, 1, 2, 3}{0, 1}{0, 1, 3}{0, 2}{0, 1, 2, 3}{0, 1, 3}{0, 1, 2, 3}""" +
        """{0, 1, 3}{0, 1}{0, 1}{0, 1, 2, 4}{0, 1, 4}{0, 2, 4}{0, 1, 2, 3}{0, 1, 2}{0, 1, 2}"}""")
  }

  test("boolean stats match compute_stats_boolean.q.out verbatim") {
    assert(one("cs_bool", "bool.txt", "boolean") ==
      """{"columntype":"Boolean","counttrues":13,"countfalses":19,"countnulls":1}""")
  }

  test("double stats match compute_stats_double.q.out verbatim") {
    assert(one("cs_dbl", "double.txt", "double") ==
      """{"columntype":"Double","min":-87.2,"max":435.33,"countnulls":2,"numdistinctvalues":11,""" +
        """"ndvbitvector":"{0, 1, 2, 3, 4}{0, 1, 2}{0, 1}{0, 1, 3, 4}{0, 1, 3}{0, 1, 2, 3, 8}""" +
        """{0, 1, 3}{0, 1, 2}{0, 1, 4}{0, 1, 2}{0, 1, 2, 3}{0, 1, 2, 3}{0, 1, 2, 3, 4}{0, 1, 2}""" +
        """{0, 1, 2, 3, 4}{0, 1, 3}"}""")
  }

  test("empty input matches compute_stats_empty_table.q.out (null min/max, empty vector)") {
    s.range(0).selectExpr("CAST(id AS int) AS a").createOrReplaceTempView("cs_empty")
    assert(s.sql("select compute_stats(a, 16) from cs_empty").collect()(0).getString(0) ==
      """{"columntype":"Long","min":null,"max":null,"countnulls":0,""" +
        """"numdistinctvalues":0,"ndvbitvector":""}""")
    s.range(0).selectExpr("CAST(null AS boolean) AS a").createOrReplaceTempView("cs_empty_b")
    assert(s.sql("select compute_stats(a, 16) from cs_empty_b").collect()(0).getString(0) ==
      """{"columntype":"Boolean","counttrues":0,"countfalses":0,"countnulls":0}""")
  }

  test("partial aggregation (serialize/merge) equals the single-pass result") {
    val single = one("cs_int2", "int.txt", "int")
    val sharded = s.read.text(s"$data/int.txt")
      .selectExpr("CAST(nullif(split(value, '\\u0001')[0], '') AS int) AS a").repartition(7)
    sharded.createOrReplaceTempView("cs_int_sharded")
    val merged = s.sql("select compute_stats(a, 16) from cs_int_sharded")
      .collect()(0).getString(0)
    assert(merged == single)
  }
}
