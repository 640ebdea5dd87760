package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.time.{Millis, Seconds, Span}

import graft.acid.{Compactor, Versioned}

/** Automatic compaction scheduling (acid/Compactor — the Initiator/
  * Worker/Cleaner daemon analog, Initiator.java:58). Pins: a warehouse
  * scan compacts exactly the tables whose head-delta count crossed the
  * threshold (and leaves non-versioned dirs alone); the daemon loop
  * compacts unprompted; exactly one daemon per warehouse; reads stay
  * correct across auto-compaction. */
class CompactorSpec extends AnyFunSuite {
  import TestSession._

  private def warehouse(name: String): String = {
    val w = s"target/storage/compactor_spec/$name"
    val hp = new org.apache.hadoop.fs.Path(w)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    w
  }

  private def seed(base: String, nDeltas: Int): Unit = {
    val df = Tables.orders(spark, sf).limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))
    Versioned.commit(spark, base, df)
    (1 to nDeltas).foreach { i =>
      Versioned.commitDelta(spark, base, Seq("o_orderkey"),
        upserts = df.limit(5).withColumn("o_totalprice", lit(i.toDouble)))
    }
  }

  test("scanWarehouse compacts only tables over threshold and skips foreign dirs") {
    val w = warehouse("scan")
    seed(s"$w/hot", nDeltas = 4)
    seed(s"$w/cold", nDeltas = 1)
    Tables.nation(spark, sf).write.parquet(s"$w/plain_parquet")

    // a broken table (version dir with no committed versions) must not
    // stop the scan — it reports an error outcome instead
    new org.apache.hadoop.fs.Path(s"$w/broken/_versions")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(new org.apache.hadoop.fs.Path(s"$w/broken/_versions"))

    val out = Compactor.scanWarehouse(spark, w, maxDeltas = 3).sortBy(_.table)
    assert(out.map(_.table) == Seq("broken", "cold", "hot"))
    assert(out.collect { case t if t.table == "hot" => t.compacted } == Seq(true))
    assert(out.collect { case t if t.table == "cold" => t.compacted } == Seq(false))
    assert(out.find(_.table == "broken").get.error.isDefined)
    // post-compaction state is the merged view, and the head is a full base
    val hot = Versioned.read(spark, s"$w/hot")
    assert(hot.count() == 100)
    assert(hot.filter(col("o_totalprice") === 4.0).count() == 5)
    assert(Compactor.scanWarehouse(spark, w, maxDeltas = 3).forall(!_.compacted))
  }

  test("scanWarehouse maintains graftkv stores: over-threshold segment counts fold back") {
    import spark.implicits._
    import graft.sources.KvStore
    val w = warehouse("kv")
    val hot = s"$w/kv_hot"; val cold = s"$w/kv_cold"
    KvStore.write(spark, (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"), hot, "k", 2)
    (0 until 3).foreach { b =>
      KvStore.append(spark,
        (1L to 50L).map(i => (1000L * (b + 1) + i, s"a$i")).toDF("k", "v"), hot, 2)
    }
    KvStore.write(spark, (1L to 20L).map(i => (i, s"c$i")).toDF("k", "v"), cold, "k", 2)
    val fs = new org.apache.hadoop.fs.Path(w)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(KvStore.readMeta(fs, hot).segments.length == 8)
    val before = spark.read.format("graftkv").load(hot).count()

    val outcomes = Compactor.scanWarehouse(spark, w, maxKvSegments = 4)
    val byName = outcomes.map(o => o.table -> o).toMap
    assert(byName("kv_hot").compacted, outcomes.toString)
    assert(!byName("kv_cold").compacted)
    assert(KvStore.readMeta(fs, hot).segments.length == 4)
    assert(KvStore.readMeta(fs, cold).segments.length == 2, "under-threshold store rewritten")
    assert(spark.read.format("graftkv").load(hot).count() == before)
  }

  test("the daemon compacts unprompted and enforces one-per-warehouse") {
    val w = warehouse("daemon")
    seed(s"$w/t", nDeltas = 0)
    val handle = Compactor.start(spark, w, intervalMs = 200, maxDeltas = 2)
    try {
      intercept[IllegalStateException](Compactor.start(spark, w, intervalMs = 200))
      (1 to 3).foreach { i =>
        Versioned.commitDelta(spark, s"$w/t", Seq("o_orderkey"),
          upserts = Tables.orders(spark, sf).limit(3)
            .select(col("o_orderkey"), col("o_totalprice"))
            .withColumn("o_totalprice", lit(100.0 + i)))
      }
      eventually(timeout(Span(20, Seconds)), interval(Span(200, Millis))) {
        // deltas folded below threshold without any manual call
        val f = new org.apache.hadoop.fs.Path(s"$w/t").getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val heads = Versioned.versions(spark, s"$w/t").reverse
          .takeWhile(v => f.exists(new org.apache.hadoop.fs.Path(
            f"$w/t/_versions/v$v%08d/_delta")))
        assert(heads.size < 2)
      }
      assert(Versioned.read(spark, s"$w/t")
        .filter(col("o_totalprice") === 103.0).count() == 3)
    } finally handle.close()
    // after close the seat frees up
    Compactor.start(spark, w, intervalMs = 60000).close()
  }

  test("the daemon seat is atomic: of eight racing starts exactly one wins") {
    val w = warehouse("seat_race")
    new java.io.File(w).mkdirs()
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tries = (1 to 8).map(_ => pool.submit(() => {
        go.await()
        scala.util.Try(Compactor.start(spark, w, intervalMs = 60000))
      }))
      go.countDown()
      val results = tries.map(_.get())
      val handles = results.flatMap(_.toOption)
      try {
        assert(handles.size == 1, s"${handles.size} daemons took one warehouse's seat")
        results.flatMap(_.failed.toOption).foreach(e => assert(e.isInstanceOf[IllegalStateException], e))
      } finally handles.foreach(_.close())
    } finally pool.shutdown()
  }

  test("a dead daemon's stale seat is reclaimed; a fresh one still refuses") {
    val w = warehouse("seat_stale")
    new java.io.File(w).mkdirs()
    val seat = new java.io.File(s"$w/_compactor_daemon")
    assert(seat.createNewFile())
    // older than 10 intervals: its daemon is gone
    assert(seat.setLastModified(System.currentTimeMillis() - 10 * 60000L - 60000L))
    Compactor.start(spark, w, intervalMs = 60000).close()
    assert(!seat.exists, "the reclaimed seat was not released on close")
    assert(seat.createNewFile()) // a live daemon's fresh seat
    try intercept[IllegalStateException](Compactor.start(spark, w, intervalMs = 60000))
    finally assert(seat.delete())
  }
}
