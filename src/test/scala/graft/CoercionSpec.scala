package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.HiveDecimalArith

/** Property-style tests for the divergence-prone semantics SURVEY.md
  * §7.3 flags (type coercion, integer division, pmod, null propagation)
  * — the reference pins these with .q golden files. Cases are generated
  * from a fixed seed and evaluated vectorized in one DataFrame per
  * property, compared against a Scala-side model.
  */
class CoercionSpec extends AnyFunSuite {
  import TestSession._

  private val rnd = new scala.util.Random(42)
  private def ints(n: Int): Seq[Int] =
    Seq.fill(n)(rnd.nextInt(2000001) - 1000000)

  test("integer / is double division; div is integer division (Hive semantics)") {
    import spark.implicits._
    val pairs = ints(200).zip(ints(200).map(b => if (b == 0) 7 else b))
    val rows = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        (col("a") / col("b")).as("slash"),
        expr("a div b").as("idiv"))
      .collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      val (a, b) = (r.getInt(0), r.getInt(1))
      assert(r.getDouble(2) == a.toDouble / b.toDouble, s"$a / $b")
      assert(r.getLong(3) == a.toLong / b.toLong, s"$a div $b")
    }
  }

  test("pmod is always non-negative; % follows the dividend sign") {
    import spark.implicits._
    val pairs = ints(200).zip(ints(200).map(b => math.abs(b) % 1000 + 1))
    val rows = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        pmod(col("a"), col("b")).as("p"), (col("a") % col("b")).as("m"))
      .collect()
    rows.foreach { r =>
      val (a, b) = (r.getInt(0), r.getInt(1))
      assert(r.getInt(2) == ((a % b) + b) % b, s"pmod($a, $b)")
      assert(r.getInt(2) >= 0)
      assert(r.getInt(3) == a % b, s"$a % $b")
    }
  }

  test("string<->numeric implicit comparison and null propagation") {
    val r = spark.sql(
      """SELECT '10' = 10 AS s_eq,
        |  concat('a', CAST(NULL AS STRING)) AS c_null,
        |  concat_ws('-', 'a', CAST(NULL AS STRING), 'b') AS cw,
        |  NULL <=> NULL AS nse,
        |  1 <=> NULL AS nse2,
        |  CAST('12abc' AS INT) AS bad_cast""".stripMargin).collect()(0)
    assert(r.getBoolean(0))
    assert(r.isNullAt(1), "concat propagates null (Hive semantics)")
    assert(r.getString(2) == "a-b", "concat_ws skips nulls")
    assert(r.getBoolean(3) && !r.getBoolean(4))
    assert(r.isNullAt(5), "failed cast yields null with ANSI off")
  }

  test("char(n)/varchar(n) table columns enforce pad/truncate semantics") {
    // Hive applies char/varchar semantics at the column level
    // (CharTypeInfo.java): char(n) reads back space-padded, varchar(n)
    // rejects oversize values on insert. Spark matches on table columns
    // (not on CAST — the engine's hiveChar/hiveVarchar cover casts,
    // pinned via the q108 oracle).
    spark.sql("DROP TABLE IF EXISTS coercion_chars")
    spark.sql("CREATE TABLE coercion_chars (c CHAR(5), v VARCHAR(5)) USING parquet")
    try {
      spark.sql("INSERT INTO coercion_chars VALUES ('ab', 'xyz')")
      val r = spark.sql("SELECT c, length(c) AS lc, v FROM coercion_chars").collect()(0)
      assert(r.getString(0) == "ab   ", "char(5) must read back space-padded")
      assert(r.getInt(1) == 5)
      assert(r.getString(2) == "xyz")
      val e = intercept[Exception] {
        spark.sql("INSERT INTO coercion_chars VALUES ('ab', 'toolong!')")
      }
      assert(e.getMessage.toLowerCase.contains("length"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS coercion_chars")
  }

  test("decimal overflow, rounding, and division scale follow Hive rules") {
    val r = spark.sql(
      """SELECT CAST('1.005' AS DECIMAL(10,2)) AS up,
        |  CAST('-1.005' AS DECIMAL(10,2)) AS down,
        |  CAST(12345.678 AS DECIMAL(5,2)) AS ovf,
        |  CAST(CAST(1 AS DECIMAL(10,2)) / CAST(3 AS DECIMAL(10,2)) AS STRING) AS third
        |""".stripMargin).collect()(0)
    assert(r.getDecimal(0).toPlainString == "1.01", "HALF_UP rounding")
    assert(r.getDecimal(1).toPlainString == "-1.01", "HALF_UP away from zero")
    assert(r.isNullAt(2), "overflow -> NULL with ANSI off")
    // Hive/Spark division scale: max(6, s1 + p2 + 1) = 13
    assert(r.getString(3) == "0.3333333333333")
  }

  test("timestamp comparisons are UTC-stable") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val r = spark.sql(
      "SELECT unix_timestamp(TIMESTAMP '2000-01-01 00:00:00') AS e").collect()(0)
    assert(r.getLong(0) == 946684800L)
  }

  test("TIMESTAMP_NTZ parquet events normalize to TimestampType end-to-end") {
    // Round-5 regression pin: the driver shipped events.ts as parquet
    // TIMESTAMP(isAdjustedToUTC=false, MICROS), which Spark 4 reads as
    // TIMESTAMP_NTZ and which breaks unix_micros / withWatermark / the
    // as-of typecheck downstream. Tables.events is the one chokepoint
    // that must absorb any ts encoding; pin the NTZ arm with a
    // self-written NTZ file so the pin survives future driver re-encodes.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz").toString
    try {
      spark.sql(
        """SELECT 1L AS event_id, 7L AS user_id, 'view' AS event_type,
          |  TIMESTAMP_NTZ '2024-03-01 12:00:00' AS ts, 1.5D AS value
          |""".stripMargin)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // the raw file really is NTZ...
      assert(spark.read.parquet(s"$dir/events.parquet")
        .schema("ts").dataType == TimestampNTZType)
      val ev = Tables.events(spark, dir)
      // ...and the chokepoint hands downstream a TimestampType column
      assert(ev.schema("ts").dataType == TimestampType)
      // value preserved exactly under the pinned-UTC session (wall-clock
      // == instant), so event-time math sees the same microsecond
      val micros = ev.select(unix_micros(col("ts"))).collect()(0).getLong(0)
      assert(micros == 1709294400000000L, s"got $micros")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ---- Hive 2.1 decimal result types and UNION widening, derived by
  // hand from the reference (GenericUDFOPDivide.deriveResultDecimalTypeInfo:118,
  // GenericUDAFAverage.java:229, FunctionRegistry.getCommonClassForUnionAll:680)

  private lazy val compat = {
    val s = spark.newSession()
    s.conf.set("graft.compat.hive.coercion", "true")
    s
  }

  test("Hive divide type derivation: shrink with negative bias") {
    // sum(decimal(20,10)) = (30,10) over count bigint (19,0):
    // intDig=20, decDig=30, over by 12 -> decDig -= 12/2+1 = 23
    assert(HiveDecimalArith.divideType(30, 10, 19, 0) ==
      DecimalType(38, 23))
    // key decimal(20,10) / literal 4 (constant digits: p2=1):
    // intDig=10, decDig=max(6, 10+1+1)=12 -> (22,12)
    assert(HiveDecimalArith.divideType(20, 10, 1, 0) ==
      DecimalType(22, 12))
    // small operands keep the unshrunk derivation
    assert(HiveDecimalArith.divideType(10, 2, 5, 1) ==
      DecimalType(17, 8))
  }

  test("Hive avg type derivation caps scale before integer digits") {
    assert(HiveDecimalArith.avgType(20, 10) ==
      DecimalType(24, 14))
    // p+4 would pass 38: scale gives way, intPart is kept
    assert(HiveDecimalArith.avgType(38, 18) ==
      DecimalType(38, 18))
  }

  test("UNION widening is order-sensitive like getCommonClassForUnionAll") {
    // string-first, double-second -> DOUBLE (implicitConvertible(string,
    // double) tested first)
    val d1 = compat.sql(
      "select * from (select '1.5' v union all select cast(2.5 as double)) t")
    assert(d1.schema.head.dataType == DoubleType)
    assert(d1.collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.5, 2.5))
    // double-first, string-second -> STRING (number->string group
    // conversion wins) — Spark's own pick, no rewrite
    val d2 = compat.sql(
      "select * from (select cast(2.5 as double) v union all select '1.5') t")
    assert(d2.schema.head.dataType == StringType)
    // engine sessions (no compat conf) keep Spark's string in BOTH
    val e1 = spark.sql(
      "select * from (select '1.5' v union all select cast(2.5 as double)) t")
    assert(e1.schema.head.dataType == StringType)
  }
}
