package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.IndexCatalog
import graft.sources.CompactIndexIO

/** Compact-index route (sources/CompactIndexIO — the CREATE INDEX ...
  * AS 'COMPACT' analog). The oracle row (q269) pins values; this spec
  * pins the parts the oracle cannot see: the routed scan must actually
  * read FEWER files than the full scan (otherwise the index is
  * decoration), staleness must be detectable after the table drifts, and
  * the no-match path must return an empty, correctly-typed frame. */
class IndexSpec extends AnyFunSuite {
  import TestSession._

  private val base = "target/storage/indexspec"

  test("index-routed scan prunes files and matches the full-scan answer") {
    val path = s"$base/orders_clustered"
    val idx = s"$base/orders_idx"
    Tables.orders(spark, sf)
      .repartitionByRange(8, col("o_orderpriority"), col("o_orderkey"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    CompactIndexIO.build(spark, path, "o_orderpriority", idx)

    val full = spark.read.parquet(path)
    val routed = CompactIndexIO.read(spark, path, idx, "o_orderpriority", Seq("1-URGENT"))
    // the whole point: fewer files touched than the full table holds
    assert(routed.inputFiles.length < full.inputFiles.length,
      s"index route read ${routed.inputFiles.length} of ${full.inputFiles.length} files — no pruning")
    // answer identical to the plain filter
    val expect = full.filter(col("o_orderpriority") === "1-URGENT").count()
    assert(routed.count() == expect)
    val sumRouted = routed.agg(sum(col("o_orderkey"))).collect()(0).getLong(0)
    val sumFull = full.filter(col("o_orderpriority") === "1-URGENT")
      .agg(sum(col("o_orderkey"))).collect()(0).getLong(0)
    assert(sumRouted == sumFull)
  }

  test("file-URI spellings are canonicalized: the two Spark listing APIs agree") {
    // input_file_name() says file:///p, DataFrame.inputFiles says file:/p
    // — the staleness/refresh compare crosses the two, so both funnel
    // through one canonical spelling (a mismatch here would make every
    // fresh index look stale and every refresh a full add+remove)
    assert(CompactIndexIO.canonFile("file:/tmp/t/part-0.parquet")
      == "file:///tmp/t/part-0.parquet")
    assert(CompactIndexIO.canonFile("file:///tmp/t/part-0.parquet")
      == "file:///tmp/t/part-0.parquet")
    assert(CompactIndexIO.canonFile("hdfs://nn:8020/t/part-0.parquet")
      == "hdfs://nn:8020/t/part-0.parquet")
    assert(CompactIndexIO.canonFile("s3a://bucket/t/part-0.parquet")
      == "s3a://bucket/t/part-0.parquet")
    // end-to-end: a freshly built index is NOT stale (stored snapshot
    // from the scan-time names vs metadata-only listing)
    val path = s"$base/orders_canon"
    val idx = s"$base/orders_canon_idx"
    Tables.orders(spark, sf).limit(100).write.mode(SaveMode.Overwrite).parquet(path)
    CompactIndexIO.build(spark, path, "o_orderpriority", idx)
    assert(!CompactIndexIO.isStale(spark, path, idx))
  }

  test("incremental refresh: appended files are indexed without a full rebuild; deletions drop rows") {
    val path = s"$base/orders_refresh"
    val idx = s"$base/orders_refresh_idx"
    val o = Tables.orders(spark, sf)
    o.filter(col("o_orderkey") % 2 === 0)
      .repartition(4).write.mode(SaveMode.Overwrite).parquet(path)
    CompactIndexIO.build(spark, path, "o_orderpriority", idx)
    assert(!CompactIndexIO.isStale(spark, path, idx))

    // nightly append: new part files drift the table
    o.filter(col("o_orderkey") % 2 === 1)
      .repartition(2).write.mode(SaveMode.Append).parquet(path)
    assert(CompactIndexIO.isStale(spark, path, idx))
    CompactIndexIO.refresh(spark, path, "o_orderpriority", idx)
    assert(!CompactIndexIO.isStale(spark, path, idx))
    val routed = CompactIndexIO.read(spark, path, idx, "o_orderpriority", Seq("1-URGENT"))
    val expect = spark.read.parquet(path).filter(col("o_orderpriority") === "1-URGENT")
    assert(routed.count() == expect.count())
    // rows from BOTH generations are reachable through the refreshed index
    assert(routed.filter(col("o_orderkey") % 2 === 1).count() > 0)

    // compaction-style deletion: drop one data file, refresh drops its rows
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = spark.read.parquet(path).inputFiles.sorted.head
    fs.delete(new org.apache.hadoop.fs.Path(victim), false)
    assert(CompactIndexIO.isStale(spark, path, idx))
    CompactIndexIO.refresh(spark, path, "o_orderpriority", idx)
    assert(!CompactIndexIO.isStale(spark, path, idx))
    val after = CompactIndexIO.read(spark, path, idx, "o_orderpriority", Seq("1-URGENT"))
    assert(after.count() ==
      spark.read.parquet(path).filter(col("o_orderpriority") === "1-URGENT").count())
  }

  test("incremental refresh maintains minmax and bloom kinds too") {
    val path = s"$base/orders_refresh2"
    val o = Tables.orders(spark, sf)
    o.filter(col("o_orderkey") % 2 === 0)
      .repartition(4).write.mode(SaveMode.Overwrite).parquet(path)
    val idxM = s"$base/orders_refresh2_minmax"
    val idxB = s"$base/orders_refresh2_bloom"
    CompactIndexIO.buildMinMax(spark, path, "o_custkey", idxM)
    CompactIndexIO.buildBloom(spark, path, "o_custkey", idxB)
    o.filter(col("o_orderkey") % 2 === 1)
      .repartition(2).write.mode(SaveMode.Append).parquet(path)
    CompactIndexIO.refresh(spark, path, "o_custkey", idxM, kind = "minmax")
    CompactIndexIO.refresh(spark, path, "o_custkey", idxB, kind = "bloom")
    assert(!CompactIndexIO.isStale(spark, path, idxM))
    val lo = 100L; val hi = 300L
    val ranged = CompactIndexIO.readRange(spark, path, idxM, "o_custkey", lo, hi)
    val expect = spark.read.parquet(path).filter(col("o_custkey").between(lo, hi))
    assert(ranged.count() == expect.count())
    val keys = Seq(101L, 250L)
    val bloomed = CompactIndexIO.readBloom(spark, path, idxB, "o_custkey", keys)
    assert(bloomed.count() ==
      spark.read.parquet(path).filter(col("o_custkey").isin(keys: _*)).count())
  }

  test("multi-value lookup unions the value routes exactly once") {
    val path = s"$base/orders_clustered"
    val idx = s"$base/orders_idx"
    val routed = CompactIndexIO.read(spark, path, idx, "o_orderpriority",
      Seq("1-URGENT", "5-LOW"))
    val expect = spark.read.parquet(path)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW")).count()
    assert(routed.count() == expect)
  }

  test("no-match value returns an empty frame with the table schema") {
    val path = s"$base/orders_clustered"
    val idx = s"$base/orders_idx"
    val routed = CompactIndexIO.read(spark, path, idx, "o_orderpriority", Seq("9-NOPE"))
    assert(routed.count() == 0)
    assert(routed.schema == spark.read.parquet(path).schema)
  }

  test("zone-map range route prunes files and matches the full-scan answer") {
    val path = s"$base/orders_dates"
    val idx = s"$base/orders_dates_idx"
    Tables.orders(spark, sf)
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    CompactIndexIO.buildMinMax(spark, path, "o_orderdate", idx)
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-06-30 23:59:59")
    val full = spark.read.parquet(path)
    val routed = CompactIndexIO.readRange(spark, path, idx, "o_orderdate", lo, hi)
    assert(routed.inputFiles.length < full.inputFiles.length,
      s"zone route read ${routed.inputFiles.length}/${full.inputFiles.length} files — no pruning")
    val expect = full.filter(col("o_orderdate").between(lo, hi)).count()
    assert(expect > 0, "test range must be non-vacuous")
    assert(routed.count() == expect)
  }

  test("zone-map route with an out-of-range window is an empty scan") {
    val path = s"$base/orders_dates"
    val idx = s"$base/orders_dates_idx"
    val routed = CompactIndexIO.readRange(spark, path, idx, "o_orderdate",
      java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2030-12-31 00:00:00"))
    assert(routed.count() == 0)
  }

  test("transparent routing: a plain filter over an indexed table scans fewer files") {
    IndexCatalog.clear()
    val path = s"$base/orders_clustered"
    val idx = s"$base/orders_idx"
    IndexCatalog.register(spark, path, "o_orderpriority", idx)
    try {
      def q = spark.read.parquet(path).filter(col("o_orderpriority") === "1-URGENT")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("s"))
      val totalFiles = spark.read.parquet(path).inputFiles.length
      // REAL pin: the routed plan's leaf scan must list fewer files.
      // (A plan-string "[N paths]" probe is vacuous — Spark 4 never
      // renders that token, which hid a lookup-key bug for two rounds.)
      val routedFiles = q.inputFiles.length
      assert(routedFiles < totalFiles,
        s"transparent route read $routedFiles of $totalFiles files — no pruning")
      val got = q.collect()(0)
      IndexCatalog.clear()
      val plain = spark.read.parquet(path).filter(col("o_orderpriority") === "1-URGENT")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("s")).collect()(0)
      assert(got.getLong(0) == plain.getLong(0) && got.getLong(1) == plain.getLong(1),
        "transparent route changed the answer")
    } finally IndexCatalog.clear()
  }

  test("transparent zone-map routing: a plain range filter scans fewer files") {
    IndexCatalog.clear()
    val path = s"$base/orders_dates"
    val idx = s"$base/orders_dates_idx"
    IndexCatalog.register(spark, path, "o_orderdate", idx, kind = "minmax")
    try {
      val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1996-06-30 23:59:59")
      def q = spark.read.parquet(path)
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") <= lit(hi))
        .agg(count(lit(1)).as("n"))
      val totalFiles = spark.read.parquet(path).inputFiles.length
      val routedFiles = q.inputFiles.length
      assert(routedFiles < totalFiles,
        s"range-routed scan read $routedFiles of $totalFiles files — no pruning")
      val got = q.collect()(0).getLong(0)
      IndexCatalog.clear()
      val want = q.collect()(0).getLong(0)
      assert(got == want, "zone route changed the answer")
      assert(got > 0)
    } finally IndexCatalog.clear()
  }

  test("refresh re-arms transparent routing after an append (snapshot re-captured)") {
    IndexCatalog.clear()
    val path = s"$base/orders_rearm"
    val idx = s"$base/orders_rearm_idx"
    Tables.orders(spark, sf).limit(400)
      .repartitionByRange(6, col("o_orderpriority"), col("o_orderkey"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    CompactIndexIO.build(spark, path, "o_orderpriority", idx)
    IndexCatalog.register(spark, path, "o_orderpriority", idx)
    try {
      // append drifts the table: route declines (full scan, right answer)
      Tables.orders(spark, sf).limit(30).write.mode(SaveMode.Append).parquet(path)
      def q = spark.read.parquet(path).filter(col("o_orderpriority") === "1-URGENT")
      val total = spark.read.parquet(path).inputFiles.length
      assert(q.inputFiles.length == total, "drifted route must decline")
      // refresh merges the new files AND re-captures the catalog snapshot:
      // routing must fire again without a manual re-register
      CompactIndexIO.refresh(spark, path, "o_orderpriority", idx)
      assert(q.inputFiles.length < total,
        s"refresh did not re-arm the route: ${q.inputFiles.length} of $total files")
      assert(q.count() == spark.read.parquet(path)
        .where("o_orderpriority = '1-URGENT'").count())
    } finally IndexCatalog.clear()
  }

  test("routing declines on drift, non-indexed columns, and unroutable literal types") {
    IndexCatalog.clear()
    val path = s"$base/orders_drift2"
    val idx = s"$base/orders_drift2_idx"
    Tables.orders(spark, sf).limit(200).repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(path)
    CompactIndexIO.build(spark, path, "o_orderpriority", idx)
    IndexCatalog.register(spark, path, "o_orderpriority", idx)
    try {
      // non-indexed column: untouched
      val other = spark.read.parquet(path).filter(col("o_orderstatus") === "F")
      assert(other.queryExecution.optimizedPlan.toString.contains("Relation"))
      val n0 = other.count()
      assert(n0 == spark.read.parquet(path).where("o_orderstatus = 'F'").count())
      // drift: append after registration -> route must decline (full scan,
      // right answer including the new rows)
      Tables.orders(spark, sf).limit(10).write.mode(SaveMode.Append).parquet(path)
      val afterDrift = spark.read.parquet(path)
        .filter(col("o_orderpriority") === "1-URGENT").count()
      IndexCatalog.clear()
      val want = spark.read.parquet(path)
        .filter(col("o_orderpriority") === "1-URGENT").count()
      assert(afterDrift == want,
        "drifted index must fall back to the full scan, not lose the appended rows")
    } finally IndexCatalog.clear()
  }

  test("staleness is detected after the table drifts (DEFERRED REBUILD contract)") {
    val path = s"$base/orders_drift"
    val idx = s"$base/orders_drift_idx"
    Tables.orders(spark, sf).limit(100)
      .write.mode(SaveMode.Overwrite).parquet(path)
    CompactIndexIO.build(spark, path, "o_orderpriority", idx)
    assert(!CompactIndexIO.isStale(spark, path, idx))
    Tables.orders(spark, sf).limit(10)
      .write.mode(SaveMode.Append).parquet(path)
    assert(CompactIndexIO.isStale(spark, path, idx))
    // REBUILD = build again
    CompactIndexIO.build(spark, path, "o_orderpriority", idx)
    assert(!CompactIndexIO.isStale(spark, path, idx))
  }

  test("a rebuild over an existing index waits for a live writer lock before it swaps") {
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = s"$base/orders_locked"
    val idx = s"$base/orders_locked_idx"
    Tables.orders(spark, sf).limit(100)
      .write.mode(SaveMode.Overwrite).parquet(path)
    CompactIndexIO.build(spark, path, "o_orderpriority", idx)
    Tables.orders(spark, sf).limit(10)
      .write.mode(SaveMode.Append).parquet(path)
    assert(CompactIndexIO.isStale(spark, path, idx))
    val lock = new java.io.File(new org.apache.hadoop.fs.Path(idx).toUri.getPath + ".cow_lock")
    assert(lock.createNewFile(), "could not plant the competing lock")
    val f = Future(CompactIndexIO.build(spark, path, "o_orderpriority", idx))
    try {
      intercept[TimeoutException] { Await.result(f, 3.seconds) }
      assert(CompactIndexIO.isStale(spark, path, idx), "the rebuild swapped under a live lock")
    } finally assert(lock.delete())
    Await.result(f, 5.minutes)
    assert(!CompactIndexIO.isStale(spark, path, idx))
  }
}
