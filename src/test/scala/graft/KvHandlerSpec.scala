package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KvStore

/** The graftkv DataSource V2 connector — the engine half of the
  * reference's external-storage-handler contract (HBaseStorageHandler +
  * decomposePredicate). Pins: lossless round trip for every supported
  * type; key-range pushdown actually PRUNES splits (region pruning) and
  * stays a sound superset; column pruning reaches the scan; string keys
  * order by unsigned UTF-8 bytes like Spark itself; write-side contract
  * checks (key type, unsupported columns, null keys); loud failure on an
  * uncommitted store. */
class KvHandlerSpec extends AnyFunSuite {
  import TestSession._

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan:\n" + df.queryExecution.executedPlan))

  test("round trip is lossless across all supported types, nulls included") {
    import spark.implicits._
    val dir = "target/storage/kv_spec/typed"
    val src = Seq(
      (1L, Some("aa"), Some(1.5), Some(7), Some(true)),
      (2L, None: Option[String], None: Option[Double], None: Option[Int], None: Option[Boolean]),
      (3L, Some(""), Some(-0.0), Some(-7), Some(false)),
      (4L, Some("z\n\ttab"), Some(Double.NaN), Some(Int.MaxValue), Some(true))
    ).toDF("k", "s", "d", "i", "b")
      .withColumn("ts", to_timestamp_ntz(lit("2024-01-02 03:04:05.123456")))
      .withColumn("dt", to_date(lit("2024-02-29")))
    KvStore.write(spark, src, dir, "k", numSegments = 2)
    val back = spark.read.format("graftkv").load(dir)
    assert(back.schema == src.schema, back.schema.toDDL)
    assert(back.orderBy("k").collect().toSeq == src.orderBy("k").collect().toSeq)
  }

  test("key-range pushdown prunes segments; answers match an unpruned scan") {
    val dir = "target/storage/kv_spec/orders"
    val src = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
    KvStore.write(spark, src, dir, "o_orderkey", numSegments = 8)
    val kv = spark.read.format("graftkv").load(dir)
    // full scan plans one split per segment
    assert(scanOf(kv).inputRDD.getNumPartitions == 8)
    val (lo, hi) = {
      val r = src.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
      (r.getLong(0), r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 8)
    }
    val narrowed = kv.filter(col("o_orderkey").between(lo, hi))
    val parts = scanOf(narrowed).inputRDD.getNumPartitions
    assert(parts < 8 && parts >= 1, s"key range did not prune: $parts of 8 splits")
    // soundness: pruned answer == the same predicate over the source
    val want = src.filter(col("o_orderkey").between(lo, hi))
      .agg(count(lit(1)), sum("o_custkey")).collect()(0)
    assert(narrowed.agg(count(lit(1)), sum("o_custkey")).collect()(0) == want)
    // point lookup (EqualTo) and IN prune too, and re-filter exactly
    val key = src.select(col("o_orderkey")).orderBy(col("o_orderkey").desc).first().getLong(0)
    val point = kv.filter(col("o_orderkey") === key)
    assert(scanOf(point).inputRDD.getNumPartitions == 1)
    assert(point.count() == src.filter(col("o_orderkey") === key).count())
    val inq = kv.filter(col("o_orderkey").isin(lo, key))
    // lo and key are the store's FIRST and LAST keys: point-set pruning
    // must keep only the two segments containing them, not the whole
    // [min,max] span (which is all 8)
    assert(scanOf(inq).inputRDD.getNumPartitions <= 2,
      s"IN-list span-pruned only to ${scanOf(inq).inputRDD.getNumPartitions} of 8 splits")
    assert(inq.count() == src.filter(col("o_orderkey").isin(lo, key)).count())
  }

  test("column pruning reaches the scan: only required columns in the batch scan output") {
    val dir = "target/storage/kv_spec/orders_prune" // own fixture: no test-order dependency
    KvStore.write(spark,
      Tables.orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")),
      dir, "o_orderkey", numSegments = 4)
    val kv = spark.read.format("graftkv").load(dir)
    val pruned = kv.filter(col("o_orderkey") > 0).select(col("o_orderpriority"))
    val out = scanOf(pruned).output.map(_.name).toSet
    assert(out.subsetOf(Set("o_orderpriority", "o_orderkey")), out.toString)
    assert(!out.contains("o_totalprice"), "unneeded column not pruned: " + out)
  }

  test("string keys: unsigned UTF-8 range pruning agrees with Spark's string ordering") {
    import spark.implicits._
    val dir = "target/storage/kv_spec/strkeys"
    // includes a non-ASCII key: unsigned byte order puts it after ASCII
    val src = Seq(("alpha", 1L), ("bravo", 2L), ("mike", 3L),
                  ("zulu", 4L), ("éclair", 5L)).toDF("k", "v")
    KvStore.write(spark, src, dir, "k", numSegments = 3)
    val kv = spark.read.format("graftkv").load(dir)
    assert(kv.count() == 5)
    val got = kv.filter(col("k") >= "m" && col("k") <= "zz")
      .select(col("v")).collect().map(_.getLong(0)).toSet
    val want = src.filter(col("k") >= "m" && col("k") <= "zz")
      .select(col("v")).collect().map(_.getLong(0)).toSet
    assert(got == want, s"got $got want $want")
    // the non-ASCII key sorts above 'zz' in unsigned byte order — both
    // engine and store must agree it is OUT of this range
    assert(!got.contains(5L))
  }

  test("governance: graftkv reads face SELECT checks; writes face INSERT+DELETE; masked dirs refuse") {
    import graft.security.AccessPolicies
    import graft.plans.MaskPolicies
    import org.apache.hadoop.security.AccessControlException
    import spark.implicits._
    val dir = "target/storage/kv_spec/governed"
    val src = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    KvStore.write(spark, src, dir, "k", numSegments = 1)
    AccessPolicies.clear(); MaskPolicies.clear()
    try {
      // read side: the DSv2 relation is checked like any scan of the dir
      AccessPolicies.protect(dir)
      spark.conf.set("graft.auth.user", "nobody")
      intercept[AccessControlException](spark.read.format("graftkv").load(dir).count())
      AccessPolicies.grant(dir, "nobody", "SELECT")
      assert(spark.read.format("graftkv").load(dir).count() == 2)
      // write side: replacing a store destroys its contents — INSERT+DELETE
      intercept[AccessControlException](KvStore.write(spark, src, dir, "k", 1))
      AccessPolicies.grant(dir, "nobody", "INSERT", "DELETE")
      KvStore.write(spark, src, dir, "k", 1)
      AccessPolicies.clear()
      // mask side: masking is not expressible through the connector, so
      // a governed location refuses rather than returning raw rows
      val parquetTwin = "target/storage/kv_spec/governed_twin"
      src.write.mode("overwrite").parquet(parquetTwin)
      MaskPolicies.register(spark, parquetTwin, None, Map("v" -> "md5(cast(v as binary))"))
      val nested = s"$parquetTwin/kvstore"
      MaskPolicies.drop(parquetTwin) // write the kv store without tripping governance
      KvStore.write(spark, src, nested, "k", 1)
      MaskPolicies.register(spark, parquetTwin, None, Map("v" -> "md5(cast(v as binary))"))
      val e = intercept[AccessControlException](
        spark.read.format("graftkv").load(nested).count())
      assert(e.getMessage.contains("graftkv"), e.getMessage)
    } finally {
      AccessPolicies.clear(); MaskPolicies.clear()
      spark.conf.unset("graft.auth.user")
    }
  }

  test("SQL write half: CREATE TABLE USING graftkv + INSERT INTO / INSERT OVERWRITE") {
    import spark.implicits._
    val dir = "target/storage/kv_spec/sqlwrite"
    KvStore.write(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      dir, "k", numSegments = 2)
    spark.sql("DROP TABLE IF EXISTS kv_sql_t")
    spark.sql(s"CREATE TABLE kv_sql_t USING graftkv LOCATION '${new java.io.File(dir).getAbsolutePath}'")
    try {
      assert(spark.sql("SELECT count(*) FROM kv_sql_t").first().getLong(0) == 3)
      // INSERT INTO appends new sorted segments; old rows survive
      spark.sql("INSERT INTO kv_sql_t VALUES (10, 'x'), (11, 'y')")
      assert(spark.sql("SELECT count(*) FROM kv_sql_t").first().getLong(0) == 5)
      assert(spark.sql("SELECT v FROM kv_sql_t WHERE k = 10").first().getString(0) == "x")
      // key pushdown still prunes across old + appended segments
      val point = spark.table("kv_sql_t").filter(col("k") === 2L)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val segments = KvStore.readMeta(fs, dir).segments.length
      assert(segments > 2, s"append did not add segments: $segments")
      assert(scanOf(point).inputRDD.getNumPartitions < segments,
        "point lookup did not prune appended store")
      assert(point.count() == 1)
      // INSERT OVERWRITE replaces the whole store through the staged swap
      spark.sql("INSERT OVERWRITE TABLE kv_sql_t VALUES (100, 'zz'), (101, 'ww')")
      assert(spark.sql("SELECT k, v FROM kv_sql_t ORDER BY k").collect().map(_.getLong(0)).toSeq
        == Seq(100L, 101L))
      // append refuses a schema that does not match the store
      intercept[Exception](
        KvStore.append(spark, Seq((1L, 2L)).toDF("k", "v"), dir, 1))
    } finally spark.sql("DROP TABLE IF EXISTS kv_sql_t")
  }

  test("appendBatch is exactly-once: a replayed batch tag is a no-op") {
    import spark.implicits._
    val dir = "target/storage/kv_spec/batches"
    KvStore.write(spark, (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"),
      dir, "k", numSegments = 1)
    val batch = (11L to 20L).map(i => (i, s"b$i")).toDF("k", "v")
    assert(KvStore.appendBatch(spark, batch, dir, 1, "b7"))
    assert(spark.read.format("graftkv").load(dir).count() == 20)
    // micro-batch re-delivery (sink failure after commit): same tag -> no-op
    assert(!KvStore.appendBatch(spark, batch, dir, 1, "b7"))
    assert(spark.read.format("graftkv").load(dir).count() == 20)
    // the next batch id lands normally
    assert(KvStore.appendBatch(spark,
      (21L to 25L).map(i => (i, s"c$i")).toDF("k", "v"), dir, 1, "b8"))
    assert(spark.read.format("graftkv").load(dir).count() == 25)
    // tags become segment file names — unsafe characters are refused
    intercept[IllegalArgumentException](
      KvStore.appendBatch(spark, batch, dir, 1, "b 7/x"))
  }

  test("compaction folds appended overlapping segments back into non-overlapping ones") {
    import spark.implicits._
    val dir = "target/storage/kv_spec/compacted"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    KvStore.write(spark, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"),
      dir, "k", numSegments = 2)
    // three append batches, each spanning the whole key range -> every
    // batch's segments overlap the originals
    (0 until 3).foreach { b =>
      KvStore.append(spark,
        (1L to 100L).map(i => (1000L * (b + 1) + i, s"a$b-$i")).toDF("k", "v"),
        dir, numSegments = 2)
    }
    assert(KvStore.readMeta(fs, dir).segments.length == 8)
    val before = spark.read.format("graftkv").load(dir).orderBy("k").collect().toSeq
    KvStore.compact(spark, dir, numSegments = 4)
    val meta = KvStore.readMeta(fs, dir)
    assert(meta.segments.length == 4, s"compaction left ${meta.segments.length} segments")
    // non-overlapping again: sorted by minKey, each segment's max < next's min
    val segs = meta.segments.sortBy(_.minKey.asInstanceOf[Long])
    segs.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxKey.asInstanceOf[Long] < b.minKey.asInstanceOf[Long],
        s"overlap after compaction: $a / $b")
      case _ =>
    }
    // lossless, and a point lookup plans one split again
    val after = spark.read.format("graftkv").load(dir)
    assert(after.orderBy("k").collect().toSeq == before)
    assert(scanOf(after.filter(col("k") === 3050L)).inputRDD.getNumPartitions == 1)
  }

  test("compaction reads the store inside the writer lock: an append that lands while it waits survives") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = "target/storage/kv_spec/compact_race"
    KvStore.write(spark, (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"),
      dir, "k", numSegments = 2)
    val fc = graft.acid.CopyOnWrite.withTableLock(spark, dir) {
      val f = Future(KvStore.compact(spark, dir, numSegments = 2))
      Thread.sleep(1000)
      assert(!f.isCompleted, "compaction ran while another writer held the lock")
      // a writer that holds the lock appends (a reentrant call) and commits
      KvStore.append(spark, (51L to 60L).map(i => (i, s"a$i")).toDF("k", "v"),
        dir, numSegments = 1)
      f
    }
    Await.result(fc, 2.minutes)
    val got = spark.read.format("graftkv").load(dir)
    assert(got.count() == 60, "the compaction dropped rows appended while it waited")
    assert(got.filter(col("k") > 50L).count() == 10)
    assert(KvStore.readMeta(new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), dir).segments.length == 2)
  }

  test("seek-to-lo: a point lookup at a segment's tail materializes ~1 row") {
    import spark.implicits._
    val dir = "target/storage/kv_spec/seek"
    // one segment, string-heavy payload: without the seek every row's
    // strings would be decoded on the way to the last key
    val n = 1000
    val src = (1L to n).map(i => (i, "payload-" * 10 + i)).toDF("k", "v")
    KvStore.write(spark, src, dir, "k", numSegments = 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = KvStore.readMeta(fs, dir)
    val seg = meta.segments.head
    def reader(lo: Option[Any], hi: Option[Any]) =
      KvStore.newSegmentReader(fs, dir, seg.file, meta.schema, meta.schema, "k", hi, lo)
    // last-key point lookup: exactly one row materialized, the rest
    // fast-forwarded key-only
    val tail = reader(Some(n.toLong), Some(n.toLong))
    assert(tail.toSeq.map(_.getLong(0)) == Seq(n.toLong))
    assert(KvStore.readerCounters(tail) == (1L, (n - 1).toLong),
      s"expected (1 materialized, ${n - 1} skipped), got ${KvStore.readerCounters(tail)}")
    // mid-range lookup: boundary row emitted, stop-row probe not counted
    val mid = reader(Some(500L), Some(500L))
    assert(mid.toSeq.map(_.getLong(0)) == Seq(500L))
    assert(KvStore.readerCounters(mid) == (1L, 499L))
    // no bounds: everything materializes (the seek lane is bounds-only)
    val full = reader(None, None)
    assert(full.size == n)
    assert(KvStore.readerCounters(full) == (n.toLong, 0L))
    // end-to-end: the connector wires lo through to the reader
    val kv = spark.read.format("graftkv").load(dir)
    assert(kv.filter(col("k") === n.toLong).select("v").first().getString(0)
      == "payload-" * 10 + n)
  }

  test("write contract: key type, unsupported columns, null keys, uncommitted store") {
    import spark.implicits._
    val base = "target/storage/kv_spec/contract"
    intercept[IllegalArgumentException] { // double key
      KvStore.write(spark, Seq((1.0, "x")).toDF("k", "v"), s"$base/a", "k", 2)
    }
    intercept[IllegalArgumentException] { // array column unsupported
      KvStore.write(spark, Seq((1L, Seq(1, 2))).toDF("k", "v"), s"$base/b", "k", 2)
    }
    // null keys are unaddressable and dropped (rowkey contract)
    val withNull = Seq(Some(1L), None, Some(3L)).toDF("k")
    KvStore.write(spark, withNull, s"$base/c", "k", 2)
    assert(spark.read.format("graftkv").load(s"$base/c").count() == 2)
    // a dir without the meta commit point fails loudly, never reads empty
    val broken = s"$base/d"
    new java.io.File(broken).mkdirs()
    val e = intercept[Exception](spark.read.format("graftkv").load(broken).count())
    assert(e.getMessage.contains("graftkv"), e.getMessage)
  }
}
