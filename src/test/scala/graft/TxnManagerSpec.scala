package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.acid.{CopyOnWrite, TxnDdl, TxnManager}
import graft.acid.TxnManager._

/** Cross-process transaction manager — DbTxnManager/TxnHandler/
  * AcidHouseKeeperService semantics over a shared directory. Every
  * multi-client test uses two separate TxnManager instances sharing only
  * the directory, the same isolation two JVMs would have. */
class TxnManagerSpec extends AnyFunSuite {
  import TestSession._

  private def freshDir(): String =
    Files.createTempDirectory("graft_txn").toString + "/txn"

  private def mgr(dir: String, user: String) = TxnManager(spark, dir, user)

  private def tbl(m: LockMode, t: String, part: Option[String] = None) =
    LockComponent(m, "default", Some(t), part)

  test("txn lifecycle: open / show / commit / abort") {
    val d = freshDir()
    val a = mgr(d, "alice")
    val t1 = a.openTxn()
    val t2 = a.openTxn()
    assert(t2 == t1 + 1, "txn ids are monotone")
    val open = a.showTxns().collect().map(r => (r.getLong(0), r.getString(1)))
    assert(open.toSet == Set((t1, "OPEN"), (t2, "OPEN")))
    a.commitTxn(t1)
    a.abortTxn(t2)
    val after = a.showTxns().collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after.toSet == Set((t2, "ABORTED")), "committed leaves the registry; aborted stays")
  }

  test("shared readers coexist; exclusive waits for them, FIFO") {
    val d = freshDir()
    val a = mgr(d, "alice"); val b = mgr(d, "bob")
    val r1 = a.acquireLocks(Seq(tbl(SharedRead, "orders")))
    val r2 = b.acquireLocks(Seq(tbl(SharedRead, "orders")))
    assert(r1.state == Acquired && r2.state == Acquired, "SR+SR coexist")
    val x = b.requestLocks(Seq(tbl(Exclusive, "orders")))
    assert(x.state == Waiting, "X queues behind acquired readers")
    // FIFO fairness: a reader arriving AFTER the queued X must also wait
    // (SR examining a waiting E is WAIT in the jump table)
    val r3 = a.requestLocks(Seq(tbl(SharedRead, "orders")))
    assert(r3.state == Waiting, "late reader cannot jump the queued X")
    a.unlock(r1.extLockId); b.unlock(r2.extLockId)
    assert(b.checkLock(x.extLockId) == Acquired, "X granted once readers leave")
    assert(a.checkLock(r3.extLockId) == Waiting, "reader still behind acquired X")
    b.unlock(x.extLockId)
    assert(a.checkLock(r3.extLockId) == Acquired)
    a.unlock(r3.extLockId)
  }

  test("shared-write excludes shared-write but not readers") {
    val d = freshDir()
    val a = mgr(d, "alice"); val b = mgr(d, "bob")
    val w1 = a.acquireLocks(Seq(tbl(SharedWrite, "orders")))
    assert(w1.state == Acquired)
    val r = b.acquireLocks(Seq(tbl(SharedRead, "orders")))
    assert(r.state == Acquired, "SR passes an acquired SW")
    val w2 = b.requestLocks(Seq(tbl(SharedWrite, "orders")))
    assert(w2.state == Waiting, "one shared write cannot pass another")
    a.unlock(w1.extLockId)
    assert(b.checkLock(w2.extLockId) == Acquired)
    b.unlock(w2.extLockId); b.unlock(r.extLockId)
  }

  test("hierarchy: table lock blocks partition lock, different tables do not collide") {
    val d = freshDir()
    val a = mgr(d, "alice"); val b = mgr(d, "bob")
    val tx = a.acquireLocks(Seq(tbl(Exclusive, "orders")))
    val pr = b.requestLocks(Seq(tbl(SharedRead, "orders", Some("ds=2026-08-14"))))
    assert(pr.state == Waiting, "partition read waits on table X")
    val other = b.acquireLocks(Seq(tbl(Exclusive, "lineitem")))
    assert(other.state == Acquired, "unrelated table is free")
    // partition-level writers on DIFFERENT partitions of one table coexist
    val p1 = b.acquireLocks(Seq(tbl(SharedWrite, "events", Some("ds=1"))))
    val p2 = a.acquireLocks(Seq(tbl(SharedWrite, "events", Some("ds=2"))))
    assert(p1.state == Acquired && p2.state == Acquired)
    a.unlock(tx.extLockId)
    assert(b.checkLock(pr.extLockId) == Acquired)
    Seq(pr, other, p1).foreach(h => b.unlock(h.extLockId))
    a.unlock(p2.extLockId)
  }

  test("multi-component request grants atomically") {
    val d = freshDir()
    val a = mgr(d, "alice"); val b = mgr(d, "bob")
    val x = a.acquireLocks(Seq(tbl(Exclusive, "orders")))
    // read customer + orders in one request: orders blocks, so NOTHING
    // grants (savepoint-rollback semantics) — both components sit WAITING
    val q = b.requestLocks(Seq(tbl(SharedRead, "customer"), tbl(SharedRead, "orders")))
    assert(q.state == Waiting)
    assert(b.showLocks().filter(col("lockid") === q.extLockId)
      .collect().forall(_.getAs[String]("state") == "WAITING"),
      "a waiting request must not hold partial grants on any component")
    // strict FIFO (jump table: E can never pass, even a WAITING SR):
    // a later exclusive on customer queues behind the parked read
    val c = a.requestLocks(Seq(tbl(Exclusive, "customer")))
    assert(c.state == Waiting, "exclusives never jump the queue")
    a.unlock(x.extLockId)
    assert(b.checkLock(q.extLockId) == Acquired,
      "freeing the blocker grants BOTH components together")
    assert(a.checkLock(c.extLockId) == Waiting, "E still behind the acquired read")
    b.unlock(q.extLockId)
    assert(a.checkLock(c.extLockId) == Acquired)
    a.unlock(c.extLockId)
  }

  test("blocking acquire times out and cleans its queue entry") {
    val d = freshDir()
    val a = mgr(d, "alice"); val b = mgr(d, "bob")
    val x = a.acquireLocks(Seq(tbl(Exclusive, "orders")))
    val e = intercept[LockException] {
      b.acquireLocks(Seq(tbl(SharedWrite, "orders")), timeoutMs = 300L)
    }
    assert(e.getMessage.contains("waiting"))
    assert(b.showLocks().filter(col("type") === "SHARED_WRITE").count() == 0,
      "timed-out request must leave the queue")
    a.unlock(x.extLockId)
  }

  test("txn locks release on commit; zombie commit after housekeeper abort is fenced") {
    val d = freshDir()
    val a = mgr(d, "alice"); val b = mgr(d, "bob")
    val t = a.openTxn()
    a.acquireLocks(Seq(tbl(SharedWrite, "orders")), txnId = t)
    assert(b.requestLocks(Seq(tbl(SharedWrite, "orders"))).state == Waiting)
    a.commitTxn(t)
    // commit freed the txn's locks: the queued writer proceeds
    val w = b.showLocks().filter(col("state") === "WAITING").collect()
    assert(w.length == 1)
    assert(b.checkLock(w(0).getLong(0)) == Acquired)
    b.unlock(w(0).getLong(0))

    // zombie: stop heartbeating, let the reaper abort, then try to commit
    val t2 = a.openTxn()
    a.acquireLocks(Seq(tbl(SharedWrite, "orders")), txnId = t2)
    Thread.sleep(30L)
    val (aborted, _) = b.houseKeep(timeoutMs = 10L)
    assert(aborted == Seq(t2), "stale heartbeat aborts the txn")
    assert(b.showLocks().count() == 0, "reaped txn frees its locks")
    intercept[TxnAbortedException] { a.commitTxn(t2) }
  }

  test("heartbeat keeps a txn alive under an aggressive reaper") {
    val d = freshDir()
    val a = mgr(d, "alice"); val b = mgr(d, "bob")
    val t = a.openTxn()
    val hb = a.startHeartbeater(20L)
    try {
      Thread.sleep(200L)
      val (aborted, _) = b.houseKeep(timeoutMs = 150L)
      assert(aborted.isEmpty, "heartbeated txn must survive")
      assert(a.showTxns().filter(col("state") === "OPEN").count() == 1)
    } finally hb.close()
    a.commitTxn(t)
  }

  test("stale txn-less locks are reaped; vacuum keeps the id high-water mark") {
    val d = freshDir()
    val a = mgr(d, "alice"); val b = mgr(d, "bob")
    val h = a.acquireLocks(Seq(tbl(SharedRead, "orders")))
    Thread.sleep(30L)
    val (_, reaped) = b.houseKeep(timeoutMs = 10L, retentionMs = 0L)
    assert(reaped == 1, "unheartbeated txn-less lock times out (timeOutLocks)")
    // ids stay monotone across vacuum: new request id must exceed the old
    val h2 = b.acquireLocks(Seq(tbl(SharedRead, "orders")))
    assert(h2.extLockId > h.extLockId, "lock ids never reused after vacuum")
    b.unlock(h2.extLockId)
  }

  test("two managers contending for the same exclusive lock serialize, never co-grant") {
    val d = freshDir()
    val winners = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        val m = mgr(d, s"user$i")
        val h = m.acquireLocks(Seq(tbl(Exclusive, "orders")), timeoutMs = 30000L)
        val now = inside.incrementAndGet()
        maxInside.accumulateAndGet(now, math.max)
        Thread.sleep(20L)
        inside.decrementAndGet()
        winners.add(i)
        m.unlock(h.extLockId)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000L))
    assert(winners.size == 4, "every contender eventually acquires")
    assert(maxInside.get == 1, "exclusive means exclusive")
  }

  test("COW writers route through the shared lock service when graft.txn.dir is set") {
    val d = freshDir()
    val dir = Files.createTempDirectory("graft_txn_cow").toString + "/orders"
    Tables.orders(spark, sf).write.parquet(dir)
    spark.conf.set("graft.txn.dir", d)
    try {
      val n = CopyOnWrite.update(spark, dir,
        col("o_orderstatus") === "F", Map("o_orderpriority" -> lit("5-LOW")))
      assert(n > 0)
      // the service saw the writer come and go: the lock-id high-water
      // mark advanced and no lock is left behind
      val m = mgr(d, "observer")
      assert(m.showLocks().count() == 0)
      assert(m.acquireLocks(Seq(tbl(SharedRead, "any"))).extLockId >= 2)
    } finally spark.conf.unset("graft.txn.dir")
  }

  test("daemon compaction and replica load serialize through the shared lock service") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.acid.Versioned
    import graft.etl.Replication
    val d = freshDir()
    val base = Files.createTempDirectory("graft_txn_serial").toString
    spark.conf.set("graft.txn.dir", d)
    try {
      // --- maintain (the daemon's per-table pass) queues behind a held X lock
      val t1 = s"$base/serial_tbl"
      Versioned.commit(spark, t1, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      Versioned.commitDelta(spark, t1, Seq("k"), Seq((3L, "c")).toDF("k", "v"))
      Versioned.commitDelta(spark, t1, Seq("k"), Seq((4L, "e")).toDF("k", "v"))
      val holder = mgr(d, "in-flight-load")
      val h1 = holder.acquireLocks(Seq(tbl(Exclusive, "serial_tbl")))
      val fm = Future(Versioned.maintain(spark, t1, maxDeltas = 1))
      Thread.sleep(1500)
      assert(!fm.isCompleted, "maintain ran while another manager held the table X lock")
      holder.unlock(h1.extLockId)
      val m = Await.result(fm, 60.seconds)
      assert(m.compacted, s"maintain should have compacted after the lock freed: $m")
      assert(Versioned.read(spark, t1).count() == 4)

      // --- Replication.load queues behind a held X lock on the replica
      val src = s"$base/serial_src"; val dst = s"$base/serial_replica"
      val dump = s"$base/serial_dump"
      Versioned.commit(spark, src, Seq((1L, "x")).toDF("k", "v"))
      Replication.dump(spark, src, dump, Seq("k"), fromId = None)
      val h2 = holder.acquireLocks(Seq(tbl(Exclusive, "serial_replica")))
      val fl = Future(Replication.load(spark, dump, dst))
      Thread.sleep(1500)
      assert(!fl.isCompleted, "load ran while another manager held the replica X lock")
      holder.unlock(h2.extLockId)
      assert(Await.result(fl, 60.seconds) == 1)
      assert(Versioned.read(spark, dst).count() == 1)

      // --- every Versioned writer queues too, and none makes a sidecar lock
      val t3 = s"$base/serial_ver"
      Versioned.commit(spark, t3, Seq((1L, "a")).toDF("k", "v"))
      def holdThenCommit(write: => Int): Unit = {
        val before = Versioned.versions(spark, t3).size
        val h = holder.acquireLocks(Seq(tbl(Exclusive, "serial_ver")))
        val fw = Future(write)
        Thread.sleep(1500)
        assert(!fw.isCompleted, "a Versioned writer ran while another manager held the X lock")
        assert(Versioned.versions(spark, t3).size == before)
        holder.unlock(h.extLockId)
        Await.result(fw, 60.seconds)
        assert(Versioned.versions(spark, t3).size == before + 1)
      }
      holdThenCommit(Versioned.commitDelta(spark, t3, Seq("k"), Seq((2L, "b")).toDF("k", "v")))
      holdThenCommit(Versioned.commit(spark, t3, Seq((3L, "c")).toDF("k", "v")))
      assert(Versioned.read(spark, t3).count() == 1)
      assert(!new java.io.File(s"$t3.ver_lock").exists)
    } finally spark.conf.unset("graft.txn.dir")
  }

  test("SHOW LOCKS / SHOW TRANSACTIONS / ABORT TRANSACTIONS DDL") {
    val d = freshDir()
    spark.conf.set("graft.txn.dir", d)
    try {
      val a = mgr(d, "alice")
      val t = a.openTxn()
      a.acquireLocks(Seq(tbl(SharedWrite, "orders", Some("ds=1"))), txnId = t,
        queryId = "update-orders")
      assert(TxnDdl.matches("SHOW LOCKS orders"))
      val locks = TxnDdl.run(spark, "SHOW LOCKS orders").collect()
      assert(locks.length == 1)
      assert(locks(0).getAs[String]("state") == "ACQUIRED")
      assert(locks(0).getAs[String]("type") == "SHARED_WRITE")
      assert(locks(0).getAs[String]("part") == "ds=1")
      assert(locks(0).getAs[Long]("txnid") == t)
      assert(TxnDdl.run(spark, "SHOW LOCKS lineitem").count() == 0)
      val txns = TxnDdl.run(spark, "SHOW TRANSACTIONS").collect()
      assert(txns.map(_.getLong(0)).contains(t))
      TxnDdl.run(spark, s"ABORT TRANSACTIONS $t")
      assert(TxnDdl.run(spark, "SHOW LOCKS").count() == 0,
        "abort releases the txn's locks")
      assert(TxnDdl.run(spark, "SHOW TRANSACTIONS")
        .filter(col("state") === "ABORTED").count() == 1)
    } finally spark.conf.unset("graft.txn.dir")
  }
}
