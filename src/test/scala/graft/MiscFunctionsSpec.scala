package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.HiveDateTimeShims

/** Pins the Hive-compat-only function family (q79) and approximate
  * aggregates (q80) that have no DuckDB oracle. */
class MiscFunctionsSpec extends AnyFunSuite {
  import TestSession._

  test("hive-compat functions produce the documented values") {
    val r = spark.sql(
      """SELECT mask('Customer#7') AS m,
        |  concat(substr('Customer#7', 1, 4), mask(substr('Customer#7', 5))) AS m4,
        |  initcap('building works') AS ic,
        |  soundex('Customer') AS sx,
        |  format_number(1234567.891, 1) AS fm,
        |  elt(2, 'alpha', 'beta', 'gamma') AS e,
        |  find_in_set('MACHINERY', 'BUILDING,AUTOMOBILE,MACHINERY') AS f,
        |  parse_url('http://example.com/a/b?id=42', 'PATH') AS pp,
        |  parse_url('http://example.com/a/b?id=42', 'QUERY', 'id') AS pq,
        |  str_to_map('k1:1,k2:2', ',', ':')['k2'] AS sm
        |""".stripMargin).collect()(0)
    assert(r.getString(0) == "Xxxxxxxx#n")          // mask: upper->X lower->x digit->n, other kept
    assert(r.getString(1) == "Custxxxx#n")
    assert(r.getString(2) == "Building Works")
    assert(r.getString(3) == "C235")
    assert(r.getString(4) == "1,234,567.9")
    assert(r.getString(5) == "beta")
    assert(r.getInt(6) == 3)
    assert(r.getString(7) == "/a/b")
    assert(r.getString(8) == "42")
    assert(r.getString(9) == "2")
  }

  test("mask_* variants follow the Hive masking contract") {
    import spark.implicits._
    import graft.functions.MiscFunctions._
    val df = Seq("Customer#7").toDF("s")
    val r = df.select(
      mask_first_n(col("s"), 4).as("f4"),
      mask_last_n(col("s"), 3).as("l3"),
      mask_show_first_n(col("s"), 4).as("sf4"),
      mask_show_last_n(col("s"), 2).as("sl2"),
      mask_hash(col("s")).as("h"),
      mask_first_n(col("s"), 99).as("f_over")).collect()(0)
    assert(r.getString(0) == "Xxxxomer#7")
    assert(r.getString(1) == "Customex#n")
    assert(r.getString(2) == "Custxxxx#n")
    assert(r.getString(3) == "Xxxxxxxx#7")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("Customer#7".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(r.getString(4) == md)
    assert(r.getString(5) == "Xxxxxxxx#n", "n beyond length masks the whole string")
  }

  test("long-tail builtins with no DuckDB twin produce the documented values") {
    val r = spark.sql(
      """SELECT bround(2.5) AS b1, bround(3.5) AS b2,
        |  factorial(5) AS fact,
        |  sha1('abc') AS s1,
        |  CAST(unhex('4D') AS STRING) AS uh,
        |  CAST(decode(encode('héllo', 'UTF-8'), 'UTF-8') AS STRING) AS ed,
        |  months_between('1997-02-28 10:30:00', '1996-10-30') AS mb,
        |  CAST(from_utc_timestamp(TIMESTAMP '2024-01-15 12:00:00',
        |       'America/Los_Angeles') AS STRING) AS winter,
        |  CAST(from_utc_timestamp(TIMESTAMP '2024-07-15 12:00:00',
        |       'America/Los_Angeles') AS STRING) AS summer,
        |  CAST(to_utc_timestamp(TIMESTAMP '2024-01-15 04:00:00',
        |       'America/Los_Angeles') AS STRING) AS back,
        |  current_database() AS db,
        |  version() AS ver,
        |  assert_true(1 = 1) AS ok""".stripMargin).collect()(0)
    assert(r.getDecimal(0).doubleValue() == 2.0, "bankers rounding 2.5 -> 2")
    assert(r.getDecimal(1).doubleValue() == 4.0, "bankers rounding 3.5 -> 4")
    assert(r.getLong(2) == 120L)
    assert(r.getString(3) == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(r.getString(4) == "M")
    assert(r.getString(5) == "héllo")
    assert(math.abs(r.getDouble(6) - 3.94959677) < 1e-6, s"months_between ${r.getDouble(6)}")
    assert(r.getString(7) == "2024-01-15 04:00:00", "PST is UTC-8")
    assert(r.getString(8) == "2024-07-15 05:00:00", "PDT is UTC-7")
    assert(r.getString(9) == "2024-01-15 12:00:00")
    assert(r.getString(10) == "default")
    assert(r.getString(11).startsWith("4.1"))
    assert(r.isNullAt(12), "assert_true(true) yields NULL")
    val e = intercept[Throwable] {
      spark.sql("SELECT assert_true(1 = 2)").collect()
    }
    assert(e.getMessage != null)
  }

  test("aes_encrypt/aes_decrypt round-trip (deterministic ECB mode)") {
    val r = spark.sql(
      """SELECT CAST(aes_decrypt(aes_encrypt('secret payload', '0123456789abcdef',
        |  'ECB'), '0123456789abcdef', 'ECB') AS STRING) AS rt,
        |  base64(aes_encrypt('secret payload', '0123456789abcdef', 'ECB')) AS ct
        |""".stripMargin).collect()(0)
    assert(r.getString(0) == "secret payload")
    // ECB with a fixed key is deterministic — same ciphertext every run
    val again = spark.sql(
      "SELECT base64(aes_encrypt('secret payload', '0123456789abcdef', 'ECB'))")
      .collect()(0).getString(0)
    assert(r.getString(1) == again)
  }

  test("xpath family extracts from XML (Hive xpath_* surface)") {
    val r = spark.sql(
      """SELECT xpath_string('<a><b>hello</b><c>7</c></a>', 'a/b') AS s,
        |  xpath_int('<a><c>7</c></a>', 'a/c') AS i,
        |  xpath_boolean('<a><b>1</b></a>', 'a/b = 1') AS bo,
        |  xpath('<a><b>x</b><b>y</b></a>', 'a/b/text()') AS arr""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "hello")
    assert(r.getInt(1) == 7)
    assert(r.getBoolean(2))
    assert(r.getSeq[String](3) == Seq("x", "y"))
  }

  test("q79 runs over the corpus deterministically") {
    val a = SparkEntry.queries("q79_hive_compat")(spark, sf).collect()
    val b = SparkEntry.queries("q79_hive_compat")(spark, sf).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    assert(a.nonEmpty)
  }

  test("approximate aggregates are within tolerance of exact") {
    val approx = SparkEntry.queries("q80_approx_aggs")(spark, sf)
      .select("l_returnflag", "ndv_part", "p50_approx").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("ndv"),
           expr("percentile(l_extendedprice, 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (ndv, p50)) =>
      val (andv, ap50) = approx(k)
      assert(math.abs(andv - ndv).toDouble / ndv < 0.1, s"$k ndv $andv vs $ndv")
      assert(math.abs(ap50 - p50) / p50 < 0.1, s"$k p50 $ap50 vs $p50")
    }
  }

  test("TABLESAMPLE fraction sampling is in the right ballpark") {
    val n = Tables.lineitem(spark, sf).count()
    val sampled = Tables.lineitem(spark, sf).sample(0.1, seed = 42).count()
    assert(sampled > n / 20 && sampled < n / 5, s"$sampled of $n")
  }

  // ---- reference semantics derived by hand from its sources, not from
  // replaying the corpus: the lenient date and strict timestamp parse
  // shims (GenericUDF.getDateValue), the reference-formula variance family
  // (GenericUDAFVariance iterate:183-192, terminate:227-238), UDFRand's
  // java.util.Random(seed), GenericUDTFParseUrlTuple and the n-gram
  // estimators (NGramEstimator.getNGrams:97-121)

  private lazy val compat = {
    val s = spark.newSession()
    s.conf.set("graft.compat.hive.coercion", "true")
    graft.functions.HiveVariance.register(s)
    s
  }

  test("lenient date roll and strict timestamp gate") {
    // DateUtils.getDateFormat is LENIENT: invalid fields roll
    assert(HiveDateTimeShims.lenientDateDays("2014-01-34") ==
      Some(java.time.LocalDate.of(2014, 2, 3).toEpochDay.toInt))
    // trailing text after the date is ignored (SDF ParsePosition)
    assert(HiveDateTimeShims.lenientDateDays("2014-01-31 10:30:00") ==
      Some(java.time.LocalDate.of(2014, 1, 31).toEpochDay.toInt))
    // non-matching prefixes fail (null in the reference)
    assert(HiveDateTimeShims.lenientDateDays("01/14/2014").isEmpty)
    // months_between's timestamp lane wants SECONDS — '10:39' is not a
    // timestamp there and falls back to the date parse
    assert(HiveDateTimeShims.strictTimestamp("1995-02-02 10:39").isEmpty)
    assert(HiveDateTimeShims.strictTimestamp("1995-02-02 10:39:00").isDefined)
  }

  test("date/time shims parse string COLUMNS per row, not just literals") {
    import compat.implicits._
    Seq((0, "2014-01-34"), (1, "2014-02-11"), (2, "01/14/2014"),
        (3, "2016-02-29 10:30:00"), (4, "2014-01-31"))
      .toDF("i", "d").createOrReplaceTempView("r13_dates")
    // hour(date-only string) is NULL there (UDFHour's two SDF patterns)
    val hours = compat.sql(
      "select i, hour(d) from r13_dates order by i").collect()
      .map(r => if (r.isNullAt(1)) -1 else r.getInt(1)).toSeq
    assert(hours == Seq(-1, -1, -1, 10, -1))
    // add_months over a COLUMN: '2014-01-34' ROLLS to 2014-02-03
    // (lenient SDF), +1 month = 2014-03-03; a non-matching prefix is
    // NULL; end-of-month snaps (2014-01-31 + 1 = 2014-02-28)
    val am = compat.sql(
      "select i, cast(add_months(d, 1) as string) from r13_dates order by i")
      .collect().map(_.getString(1)).toSeq
    assert(am == Seq("2014-03-03", "2014-03-11", null, "2016-03-31", "2014-02-28"))
    // last_day over the rolled column value
    val ld = compat.sql(
      "select i, cast(last_day(d) as string) from r13_dates order by i")
      .collect().map(_.getString(1)).toSeq
    assert(ld(0) == "2014-02-28" && ld(2) == null)
    // months_between: strict-timestamp first, lenient date fallback
    val mb = compat.sql(
      "select i, months_between(d, '2014-01-03') from r13_dates order by i")
      .collect().map(r => if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
    assert(mb(0) == 1.0) // 2014-02-03 vs 2014-01-03
  }

  test("reference variance formulas: single element is 0, not NULL") {
    val s = spark.newSession() // own registry: the pins must not leak
    import s.implicits._
    graft.functions.HiveVariance.register(s)
    val one = Seq(5.0).toDF("x").coalesce(1)
    val r = one.selectExpr("var_samp(x)", "stddev_samp(x)", "var_pop(x)",
      "variance(x)").collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0 &&
      r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0)
    // fixed set, single partition: the reference's running formula
    // (t = count·v − sum; var += t²/(count·(count−1))) exactly
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    var count = 0L; var sum = 0.0; var variance = 0.0
    xs.foreach { v =>
      count += 1; sum += v
      if (count > 1) { val t = count * v - sum
        variance += (t * t) / (count.toDouble * (count - 1)) }
    }
    val got = xs.toDF("x").coalesce(1)
      .selectExpr("variance(x)").collect()(0).getDouble(0)
    assert(got == variance / count)
  }

  test("std/variance(DISTINCT) compat lane: exact ascending fold") {
    import compat.implicits._
    Seq(3.0, 1.0, 3.0, 2.0).toDF("x").createOrReplaceTempView("r14_v")
    // distinct {1,2,3} ascending through iterate:183-192:
    //   v=1: count=1 sum=1 var=0
    //   v=2: count=2 sum=3 t=2*2-3=1   var=0+1/(2*1)=0.5
    //   v=3: count=3 sum=6 t=3*3-6=3   var=0.5+9/(3*2)=2.0
    // var_pop=2/3, std=sqrt(2/3), var_samp=2/(3-1)=1.0 — exact doubles
    val row = compat.sql(
      "SELECT std(DISTINCT x), var_pop(DISTINCT x), var_samp(DISTINCT x) " +
        "FROM r14_v").collect().head
    assert(row.getDouble(0) == math.sqrt(2.0 / 3.0))
    assert(row.getDouble(1) == 2.0 / 3.0)
    assert(row.getDouble(2) == 1.0)
    // single distinct element -> 0.0 (terminate returns 0 for count==1)
    Seq(5.0, 5.0).toDF("x").createOrReplaceTempView("r14_v1")
    assert(compat.sql("SELECT std(DISTINCT x) FROM r14_v1")
      .collect().head.getDouble(0) == 0.0)
    // all-null input -> NULL
    Seq[Option[Double]](None, None).toDF("x").createOrReplaceTempView("r14_vn")
    assert(compat.sql("SELECT std(DISTINCT x) FROM r14_vn")
      .collect().head.isNullAt(0))
    // the ENGINE session keeps Spark's own distinct aggregate (no
    // compat conf): still answers, within float tolerance of the same
    // mathematical value
    locally {
      val se = spark
      import se.implicits._
      Seq(3.0, 1.0, 3.0, 2.0).toDF("x").createOrReplaceTempView("r14_ve")
      val engine = se.sql("SELECT stddev_pop(DISTINCT x) FROM r14_ve")
        .collect().head.getDouble(0)
      assert(math.abs(engine - math.sqrt(2.0 / 3.0)) < 1e-12)
    }
  }

  test("seeded rand draws the reference's java.util.Random sequence") {
    val s = spark.newSession()
    import s.implicits._
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hive_rand_t", _ => graft.functions.HiveRand(3L), "scala_udf")
    val first = Seq(1).toDF("x").coalesce(1)
      .selectExpr("hive_rand_t()").collect()(0).getDouble(0)
    assert(first == 0.731057369148862) // new java.util.Random(3).nextDouble()
  }

  test("parse_url_tuple generator: reference part semantics") {
    val r = spark.sql(
      """SELECT b.* FROM (SELECT
        |  'http://u:pw@facebook.com/path1/p.php?k1=v1&k2=v2#Ref1' AS u) t
        |LATERAL VIEW parse_url_tuple(u, 'HOST', 'PATH', 'QUERY', 'REF',
        |  'PROTOCOL', 'FILE', 'AUTHORITY', 'USERINFO', 'QUERY:k1',
        |  'host', 'QUERY:nope') b
        |AS ho, pa, qu, re, pr, fi, au, us, qk1, badcase, nokey""".stripMargin)
      .collect().head
    assert(r.getString(0) == "facebook.com")
    assert(r.getString(1) == "/path1/p.php")
    assert(r.getString(2) == "k1=v1&k2=v2")
    assert(r.getString(3) == "Ref1")
    assert(r.getString(4) == "http")
    assert(r.getString(5) == "/path1/p.php?k1=v1&k2=v2")
    assert(r.getString(6) == "u:pw@facebook.com")
    assert(r.getString(7) == "u:pw")
    assert(r.getString(8) == "v1")
    assert(r.isNullAt(9), "part names are case-sensitive: 'host' is NULL")
    assert(r.isNullAt(10), "absent query key is NULL")
    // a url java.net.URL rejects yields ONE all-NULL row, same as NULL
    val bad = spark.sql(
      """SELECT b.* FROM (SELECT 'htttp://' AS u) t
        |LATERAL VIEW parse_url_tuple(u, 'HOST', 'PROTOCOL') b AS ho, pr""".stripMargin)
      .collect()
    assert(bad.length == 1 && bad.head.isNullAt(0) && bad.head.isNullAt(1))
  }

  test("ngrams SQL form: exact counts, tie order, struct shape") {
    // seq = [a b a b c]; bigrams (any window order): {a b}x2, {b a}x1,
    // {b c}x1 — sorted (freq desc, ngram asc): [a,b] then [b,a] then
    // [b,c] (hand-derived)
    val r = spark.sql(
      "SELECT ngrams(array(array('a','b','a','b','c')), 2, 3) AS g")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(x => (x.getSeq[String](0).mkString(" "), x.getDouble(1))) ==
      Seq(("a b", 2.0), ("b a", 1.0), ("b c", 1.0)))
    // k truncates: top-1 keeps only the most frequent
    val r1 = spark.sql(
      "SELECT ngrams(array(array('a','b','a','b','c')), 2, 1) AS g")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r1.length == 1 && r1.head.getSeq[String](0) == Seq("a", "b"))
    // n-grams never cross inner sequence boundaries: [[a,b],[b,c]] has
    // no [b,b] (iterate treats each inner array as its own sequence)
    val r2 = spark.sql(
      "SELECT ngrams(array(array('a','b'),array('b','c')), 2, 10) AS g")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r2.map(_.getSeq[String](0).mkString(" ")).sorted == Seq("a b", "b c"))
    // estfrequency field extraction (the reference's invocation form)
    val ef = spark.sql(
      "SELECT ngrams(array(array('a','b','a','b','c')), 2, 3).estfrequency AS e")
      .collect().head.getSeq[Double](0)
    assert(ef == Seq(2.0, 1.0, 1.0))
    // SQL standard: zero elements -> NULL, not an empty array
    assert(spark.sql("SELECT ngrams(array(array('a')), 2, 3) AS g")
      .collect().head.isNullAt(0))
  }

  test("context_ngrams SQL form: filler slots and the null-context error") {
    // seq = [a b a b c], context ['b', null]: matches at the two 'b'
    // positions -> fillers 'a' (after first b) and 'c' (after second) —
    // wait, seq[1]=b -> filler seq[2]=a; seq[3]=b -> filler seq[4]=c;
    // counts a=1, c=1, tie order lexicographic
    val r = spark.sql(
      "SELECT context_ngrams(array(array('a','b','a','b','c')), " +
        "array('b', CAST(NULL AS STRING)), 5) AS g")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(x => (x.getSeq[String](0).mkString(" "), x.getDouble(1))) ==
      Seq(("a", 1.0), ("c", 1.0)))
    // a context with no null is rejected (the reference's analysis error)
    val e = intercept[Exception] {
      spark.sql("SELECT context_ngrams(array(array('a','b')), " +
        "array('a','b'), 5) AS g").collect()
    }
    assert(e.getMessage != null)
  }
}
