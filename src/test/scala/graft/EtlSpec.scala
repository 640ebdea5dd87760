package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.MultiInsert
import graft.functions.Fingerprint

class EtlSpec extends AnyFunSuite {
  import TestSession._

  test("multi-insert fans one scan out to several destinations") {
    val tmp = Files.createTempDirectory("graft_mi").toString
    val li = Tables.lineitem(spark, sf)
    val written = MultiInsert.from(li)
      .insert(s"$tmp/high_qty")(_.filter(col("l_quantity") > 40))
      .insert(s"$tmp/by_flag")(_.groupBy("l_returnflag").count())
      .insertIdentity(s"$tmp/all")
      .run()
    assert(written(s"$tmp/all") == li.count())
    assert(spark.read.parquet(s"$tmp/high_qty").count() ==
      li.filter(col("l_quantity") > 40).count())
    assert(spark.read.parquet(s"$tmp/by_flag").count() == 3)
  }

  test("multi-insert SQL statement form matches the Hive grammar") {
    val tmp = Files.createTempDirectory("graft_misql").toString
    Tables.registerAll(spark, sf)
    val written = MultiInsert.sql(spark,
      s"""FROM (SELECT l_returnflag, l_quantity, l_extendedprice FROM lineitem) li
         |INSERT OVERWRITE DIRECTORY '$tmp/big' SELECT l_returnflag, l_quantity WHERE l_quantity > 40
         |INSERT OVERWRITE DIRECTORY '$tmp/flags' SELECT DISTINCT l_returnflag
         |INSERT OVERWRITE DIRECTORY '$tmp/all' SELECT l_returnflag, l_extendedprice""".stripMargin)
    val li = Tables.lineitem(spark, sf)
    assert(written(s"$tmp/big") == li.filter(col("l_quantity") > 40).count())
    assert(written(s"$tmp/flags") == 3)
    assert(written(s"$tmp/all") == li.count())
    assert(spark.read.parquet(s"$tmp/big").columns.toSeq
        == Seq("l_returnflag", "l_quantity"))
  }

  test("multi-insert SQL splits only at the TOP-LEVEL WHERE") {
    val tmp = Files.createTempDirectory("graft_mi2").toString
    Tables.registerAll(spark, sf)
    // projection contains a scalar subquery with its own WHERE and a
    // string literal containing ' where ' — neither may split the clause
    val written = MultiInsert.sql(spark,
      s"""FROM (SELECT l_returnflag, l_quantity FROM lineitem) li
         |INSERT OVERWRITE DIRECTORY '$tmp/sub' SELECT l_returnflag,
         |  (SELECT max(n_regionkey) FROM nation WHERE n_nationkey >= 0) AS mx,
         |  'x where y' AS lit WHERE l_quantity > 45
         |INSERT OVERWRITE DIRECTORY '$tmp/nowhere' SELECT 'a where b' AS s""".stripMargin)
    val li = Tables.lineitem(spark, sf)
    assert(written(s"$tmp/sub") == li.filter(col("l_quantity") > 45).count())
    assert(written(s"$tmp/nowhere") == li.count())
    val sub = spark.read.parquet(s"$tmp/sub")
    assert(sub.columns.sorted.toSeq == Seq("l_returnflag", "lit", "mx"))
    assert(sub.select("lit").distinct().collect().map(_.getString(0)).toSeq
        == Seq("x where y"))
  }

  test("multi-insert SQL fans out to TABLE and DIRECTORY targets") {
    val tmp = Files.createTempDirectory("graft_mi3").toString
    Tables.registerAll(spark, sf)
    spark.sql("DROP TABLE IF EXISTS mi_hi")
    spark.sql("DROP TABLE IF EXISTS mi_all")
    spark.sql("CREATE TABLE mi_hi (flag STRING, qty DOUBLE) USING parquet")
    spark.sql("CREATE TABLE mi_all (flag STRING, qty DOUBLE) USING parquet")
    spark.sql("INSERT INTO mi_all VALUES ('Z', -1.0)") // INTO must append
    try {
      val written = MultiInsert.sql(spark,
        s"""FROM (SELECT l_returnflag, l_quantity FROM lineitem) li
           |INSERT OVERWRITE TABLE mi_hi SELECT l_returnflag, l_quantity WHERE l_quantity > 45
           |INSERT INTO TABLE mi_all SELECT l_returnflag, l_quantity
           |INSERT OVERWRITE DIRECTORY '$tmp/dir' SELECT l_returnflag WHERE l_quantity <= 45""".stripMargin)
      val li = Tables.lineitem(spark, sf)
      val hi = li.filter(col("l_quantity") > 45).count()
      assert(written("mi_hi") == hi)
      assert(written("mi_all") == li.count())
      assert(written(s"$tmp/dir") == li.count() - hi)
      assert(spark.table("mi_hi").count() == hi)
      // append semantics: the pre-seeded row survives
      assert(spark.table("mi_all").count() == li.count() + 1)
      assert(spark.read.parquet(s"$tmp/dir").count() == li.count() - hi)
    } finally {
      spark.sql("DROP TABLE IF EXISTS mi_hi")
      spark.sql("DROP TABLE IF EXISTS mi_all")
    }
  }

  test("multi-insert SQL: literal containing 'insert into' and WHERE-less GROUP BY") {
    val tmp = Files.createTempDirectory("graft_mi4").toString
    Tables.registerAll(spark, sf)
    val written = MultiInsert.sql(spark,
      s"""FROM (SELECT l_returnflag, l_quantity FROM lineitem) li
         |INSERT OVERWRITE DIRECTORY '$tmp/agg'
         |  SELECT l_returnflag, count(1) AS n GROUP BY l_returnflag
         |INSERT OVERWRITE DIRECTORY '$tmp/lit'
         |  SELECT 'logged insert into audit' AS note WHERE l_quantity > 45""".stripMargin)
    val li = Tables.lineitem(spark, sf)
    val flags = li.select("l_returnflag").distinct().count()
    assert(written(s"$tmp/agg") == flags)
    assert(written(s"$tmp/lit") == li.filter(col("l_quantity") > 45).count())
    assert(spark.read.parquet(s"$tmp/lit").select("note").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("logged insert into audit"))
    // the FROM/INSERT boundary itself is quote-aware too: a literal with
    // " insert into " INSIDE THE SOURCE subquery must not split there
    val written2 = MultiInsert.sql(spark,
      s"""FROM (SELECT 'audit insert into log' AS note, l_quantity FROM lineitem) s
         |INSERT OVERWRITE DIRECTORY '$tmp/src_lit' SELECT note WHERE l_quantity > 45""".stripMargin)
    assert(written2(s"$tmp/src_lit") == li.filter(col("l_quantity") > 45).count())
    assert(spark.read.parquet(s"$tmp/src_lit").select("note").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("audit insert into log"))
  }

  test("multi-insert SQL: double-quoted and backslash-escaped literals hide their keywords") {
    val tmp = Files.createTempDirectory("graft_mi5").toString
    Tables.registerAll(spark, sf)
    // "where x" is a string literal, and 'it\'s' must not swallow the
    // real WHERE after it
    val written = MultiInsert.sql(spark,
      s"""FROM (SELECT l_returnflag, l_quantity FROM lineitem) li
         |INSERT OVERWRITE DIRECTORY '$tmp/dq' SELECT "where x" AS s WHERE l_quantity > 45
         |INSERT OVERWRITE DIRECTORY '$tmp/esc' SELECT 'it\\'s' AS s WHERE l_quantity > 45""".stripMargin)
    val hi = Tables.lineitem(spark, sf).filter(col("l_quantity") > 45).count()
    assert(written(s"$tmp/dq") == hi)
    assert(written(s"$tmp/esc") == hi)
    assert(spark.read.parquet(s"$tmp/dq").select("s").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("where x"))
    assert(spark.read.parquet(s"$tmp/esc").select("s").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("it's"))
  }

  test("partitioned + bucketed write round-trips and prunes") {
    val tmp = Files.createTempDirectory("graft_w").toString
    Tables.orders(spark, sf)
      .withColumn("y", year(col("o_orderdate")))
      .write.partitionBy("y").mode("overwrite").parquet(s"$tmp/orders_by_year")
    val back = spark.read.parquet(s"$tmp/orders_by_year")
    assert(back.count() == Tables.orders(spark, sf).count())
    // partition pruning: filter on y must hit only that partition's files
    val plan = back.filter(col("y") === 1996).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || !plan.contains("y#"),
      s"no partition filter in plan:\n$plan")
  }

  test("fingerprint expressions: known values, codegen and interpreted agree") {
    import spark.implicits._
    Fingerprint.register(spark)
    // poly_hash("ab") = 97*31 + 98 = 3105
    val r = spark.sql("SELECT poly_hash('ab') AS p, min_gram_hash('abcd', 2) AS m")
      .collect()(0)
    assert(r.getLong(0) == 3105L)
    // grams: "ab"=3105, "bc"=3167, "cd"=3229 -> min 3105
    assert(r.getLong(1) == 3105L)
    // null for short strings
    assert(spark.sql("SELECT min_gram_hash('a', 2)").collect()(0).isNullAt(0))
    // deterministic over the corpus + works through the Column API
    val a = Tables.documents(spark, sf)
      .select(Fingerprint.poly_hash(col("text")).as("fp")).collect().map(_.getLong(0))
    val b = Tables.documents(spark, sf)
      .select(Fingerprint.poly_hash(col("text")).as("fp")).collect().map(_.getLong(0))
    assert(a.sameElements(b))
  }

  test("SCD2: no-op suppression, null-safe change detection, point-in-time lookup") {
    import spark.implicits._
    import graft.etl.Scd2
    // k=1 unchanged, k=2 changed, k=3 NULL -> value (a change!), k=4 new key
    val dim0 = Scd2.init(
      Seq((1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]))
        .toDF("k", "attr"), lit("2020-01-01"))
    val batch = Seq((1L, Some("a")), (2L, Some("B")), (3L, Some("c")), (4L, Some("d")))
      .toDF("k", "attr")
    val dim1 = Scd2.applyChanges(dim0, batch, Seq("k"), Seq("attr"), lit("2021-06-15"))
      .cache()
    // row counts: 3 original (1 kept current, 2 closed) + 3 opened
    assert(dim1.count() == 6)
    assert(dim1.filter(col("is_current")).count() == 4) // k=1..4 current
    // no-op suppression: k=1 kept its ORIGINAL valid_from, exactly one version
    val k1 = dim1.filter(col("k") === 1).collect()
    assert(k1.length == 1 && k1(0).getAs[java.sql.Date]("valid_from").toString == "2020-01-01")
    // null -> value counted as a change: k=3 has a closed NULL version
    val k3 = dim1.filter(col("k") === 3).orderBy(col("valid_from")).collect()
    assert(k3.length == 2 && k3(0).isNullAt(k3(0).fieldIndex("attr")) && !k3(0).getBoolean(k3(0).fieldIndex("is_current")))
    // point-in-time: before the batch k=2 reads 'b', after it reads 'B'
    val before = Scd2.asOf(dim1, lit("2021-01-01")).filter(col("k") === 2).collect()
    val after = Scd2.asOf(dim1, lit("2022-01-01")).filter(col("k") === 2).collect()
    assert(before.length == 1 && before(0).getString(before(0).fieldIndex("attr")) == "b")
    assert(after.length == 1 && after(0).getString(after(0).fieldIndex("attr")) == "B")
    // asOf at exactly the change date reads the NEW version ([from, to))
    val at = Scd2.asOf(dim1, lit("2021-06-15")).filter(col("k") === 2).collect()
    assert(at.length == 1 && at(0).getString(at(0).fieldIndex("attr")) == "B")
    dim1.unpersist()
  }

  test("dynamic partition overwrite replaces only touched partitions, keeping others' FILES") {
    val path = "target/storage/etlspec/dynpart"
    val base = Tables.orders(spark, sf)
    base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    def filesOf(st: String) =
      spark.read.parquet(path).filter(col("o_orderstatus") === st)
        .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    val oBefore = filesOf("O")
    base.filter(col("o_orderstatus") === "F").limit(10)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(path)
    // untouched partition: the very same files (zero rewrite); touched: replaced
    assert(filesOf("O") == oBefore, "dynamic overwrite rewrote an untouched partition")
    assert(spark.read.parquet(path).filter(col("o_orderstatus") === "F").count() == 10)
    // static mode is the destructive contrast: whole-table replace
    base.filter(col("o_orderstatus") === "F").limit(5)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    assert(spark.read.parquet(path).count() == 5,
      "static overwrite must replace the whole table")
  }

  test("SCD2: a NULL-business-key member survives applies and versions like any other") {
    import spark.implicits._
    import graft.etl.Scd2
    val dim0 = Scd2.init(
      Seq((Option(1L), "a"), (None: Option[Long], "n1")).toDF("k", "attr"),
      lit("2020-01-01"))
    // batch does not mention the NULL key: its row must pass through untouched
    val kept = Scd2.applyChanges(dim0, Seq((Option(9L), "z")).toDF("k", "attr"),
      Seq("k"), Seq("attr"), lit("2021-01-01"))
    assert(kept.filter(col("k").isNull).count() == 1)
    // batch updates the NULL key: close + reopen, not silent deletion
    val versioned = Scd2.applyChanges(dim0,
      Seq((None: Option[Long], "n2")).toDF("k", "attr"),
      Seq("k"), Seq("attr"), lit("2021-01-01"))
    val nulls = versioned.filter(col("k").isNull).orderBy(col("valid_from")).collect()
    assert(nulls.length == 2)
    assert(nulls(0).getString(1) == "n1" && !nulls(0).getBoolean(nulls(0).fieldIndex("is_current")))
    assert(nulls(1).getString(1) == "n2" && nulls(1).getBoolean(nulls(1).fieldIndex("is_current")))
  }

  test("scd2 rejects a batch with duplicate business keys instead of corrupting the dimension") {
    import spark.implicits._
    import graft.etl.Scd2
    val dim0 = Scd2.init(Seq((1L, "a")).toDF("k", "attr"), lit("2020-01-01"))
    val e = intercept[IllegalArgumentException] {
      Scd2.applyChanges(dim0,
        Seq((1L, "b"), (1L, "c")).toDF("k", "attr"),
        Seq("k"), Seq("attr"), lit("2021-01-01"))
    }
    assert(e.getMessage.contains("duplicate business key"), e.getMessage)
  }
}
