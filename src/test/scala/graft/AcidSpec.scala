package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.acid.CopyOnWrite

class AcidSpec extends AnyFunSuite {
  import TestSession._

  private def freshTable(): String = {
    val dir = Files.createTempDirectory("graft_acid").toString + "/orders"
    Tables.orders(spark, sf).write.parquet(dir)
    dir
  }

  test("UPDATE rewrites only matching rows") {
    val path = freshTable()
    // materialize all "before" facts now: the COW swap replaces the files
    // underneath, so a pre-swap DataFrame's cached listing goes stale
    val before = spark.read.parquet(path)
    val beforeCount = before.count()
    val expectAffected = before.filter(col("o_orderstatus") === "O").count()
    val untouchedBefore = before.filter(col("o_orderstatus") =!= "O")
      .agg(sum(col("o_totalprice"))).collect()(0).getDouble(0)

    val affected = CopyOnWrite.update(spark, path,
      col("o_orderstatus") === "O",
      Map("o_totalprice" -> (col("o_totalprice") * 1.1),
          "o_orderpriority" -> lit("9-REPRICED")))

    assert(affected == expectAffected)
    val after = spark.read.parquet(path)
    assert(after.count() == beforeCount)
    assert(after.filter(col("o_orderpriority") === "9-REPRICED").count() == expectAffected)
    val untouchedAfter = after.filter(col("o_orderstatus") =!= "O")
      .agg(sum(col("o_totalprice"))).collect()(0).getDouble(0)
    assert(untouchedAfter == untouchedBefore, "non-matching rows were modified")
  }

  test("DELETE removes exactly the matching rows") {
    val path = freshTable()
    val before = spark.read.parquet(path).count()
    val toDelete = spark.read.parquet(path).filter(col("o_totalprice") > 300000).count()
    assert(toDelete > 0)
    val deleted = CopyOnWrite.delete(spark, path, col("o_totalprice") > 300000)
    assert(deleted == toDelete)
    val after = spark.read.parquet(path)
    assert(after.count() == before - toDelete)
    assert(after.filter(col("o_totalprice") > 300000).count() == 0)
  }

  test("no-op update leaves the table untouched") {
    val path = freshTable()
    val affected = CopyOnWrite.update(spark, path,
      col("o_orderkey") < 0, Map("o_totalprice" -> lit(0.0)))
    assert(affected == 0)
    assert(spark.read.parquet(path).count() == Tables.orders(spark, sf).count())
  }

  test("MERGE upserts: matched rows replaced, unmatched inserted") {
    val path = freshTable()
    val before = spark.read.parquet(path)
    val beforeCount = before.count()
    val maxKey = before.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    // source: 3 existing keys repriced + 2 brand-new orders
    val src = before.filter(col("o_orderkey") <= 3)
      .withColumn("o_totalprice", lit(1.0))
      .unionAll(before.filter(col("o_orderkey").between(1, 2))
        .withColumn("o_orderkey", col("o_orderkey") + maxKey)
        .withColumn("o_totalprice", lit(2.0)))
    val nMatched = before.filter(col("o_orderkey") <= 3).count()

    val (updated, inserted) = CopyOnWrite.merge(spark, path, src, Seq("o_orderkey"))
    assert(updated == nMatched, s"updated=$updated")
    assert(inserted == 2, s"inserted=$inserted")
    val after = spark.read.parquet(path)
    assert(after.count() == beforeCount + 2)
    assert(after.filter(col("o_orderkey") <= 3 && col("o_totalprice") === 1.0).count()
      == nMatched, "matched rows not replaced")
    assert(after.filter(col("o_orderkey") > maxKey).count() == 2, "inserts missing")
  }

  test("compaction rewrites a fragmented table into few files, content intact") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/orders"
    Tables.orders(spark, sf).repartition(64).write.parquet(dir)
    val beforeSum = spark.read.parquet(dir)
      .agg(sum(col("o_orderkey"))).collect()(0).getLong(0)
    val (nBefore, nAfter) = CopyOnWrite.compact(spark, dir)
    assert(nBefore == 64, s"nBefore=$nBefore")
    assert(nAfter < 8, s"still fragmented: $nAfter files")
    val after = spark.read.parquet(dir)
    assert(after.agg(sum(col("o_orderkey"))).collect()(0).getLong(0) == beforeSum)
    // second call is a no-op: layout already within 2x of ideal
    val (a, b) = CopyOnWrite.compact(spark, dir)
    assert(a == b && a == nAfter)
  }

  test("UPDATE assignments are simultaneous: cond and values see original rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sim").toString + "/t"
    Seq((1L, 0L, false), (2L, 5L, false)).toDF("id", "qty", "flag")
      .write.parquet(dir)
    // SQL semantics: both assignments evaluate against the ORIGINAL row.
    // A sequential withColumn chain would set qty=-1 first, then re-check
    // qty===0 (now false) and never set flag.
    val n = CopyOnWrite.update(spark, dir, col("qty") === 0,
      Map("qty" -> lit(-1L), "flag" -> lit(true)))
    assert(n == 1)
    val r = spark.read.parquet(dir).orderBy("id").collect()
    assert(r(0).getLong(1) == -1L && r(0).getBoolean(2), s"row1=${r(0)}")
    assert(r(1).getLong(1) == 5L && !r(1).getBoolean(2), s"row2=${r(1)}")
    intercept[IllegalArgumentException] {
      CopyOnWrite.update(spark, dir, lit(true), Map("nope" -> lit(1)))
    }
  }

  test("partition-scoped rewrite: only the targeted partition's files change") {
    // the documented 100 TB pattern: a partition directory IS a COW
    // table, so DML on path/part=X rewrites that partition alone
    val dir = Files.createTempDirectory("graft_part_cow").toString + "/orders"
    Tables.orders(spark, sf)
      .withColumn("part", (col("o_orderkey") % 3).cast("int"))
      .write.partitionBy("part").parquet(dir)
    def files(p: Int) = new java.io.File(s"$dir/part=$p").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified).toMap
    val before0 = files(0); val before1 = files(1)
    val totalBefore = spark.read.parquet(dir).count()

    val affected = CopyOnWrite.update(spark, s"$dir/part=2",
      col("o_orderstatus") === "O", Map("o_totalprice" -> lit(0.0)))
    assert(affected > 0)
    // untouched partitions: byte-identical file sets
    assert(files(0) == before0 && files(1) == before1,
      "partition-scoped update rewrote unrelated partitions")
    // the table as a whole stays consistent and the change landed
    val after = spark.read.parquet(dir)
    assert(after.count() == totalBefore)
    assert(after.filter(col("part") === 2 && col("o_orderstatus") === "O"
        && col("o_totalprice") =!= 0.0).count() == 0)
    assert(after.filter(col("part") === 1 && col("o_orderstatus") === "O"
        && col("o_totalprice") === 0.0).count() == 0)
  }

  test("concurrent UPDATEs serialize through the writer lock (no lost update)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshTable()
    val n = spark.read.parquet(path).count()
    // two writers mutate the SAME rows with composing increments: +1.0
    // and +10.0 on every price. Serialized execution yields +11.0 per row
    // regardless of order; a lost update (both reading the original
    // snapshot) yields +1.0 or +10.0 on the rows the loser computed from.
    val base = spark.read.parquet(path)
      .agg(sum(col("o_totalprice").cast("decimal(25,2)"))).collect()(0)
      .getDecimal(0)
    val f1 = Future(CopyOnWrite.update(spark, path, lit(true),
      Map("o_totalprice" -> (col("o_totalprice") + 1.0))))
    val f2 = Future(CopyOnWrite.update(spark, path, lit(true),
      Map("o_totalprice" -> (col("o_totalprice") + 10.0))))
    assert(Await.result(f1, 5.minutes) == n)
    assert(Await.result(f2, 5.minutes) == n)
    val got = spark.read.parquet(path)
      .agg(sum(col("o_totalprice").cast("decimal(25,2)"))).collect()(0)
      .getDecimal(0)
    val want = base.add(new java.math.BigDecimal(11L * n).setScale(2))
    assert(got.compareTo(want) == 0, s"lost update: sum=$got want=$want")
  }

  test("a live competing lock blocks a writer until released") {
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshTable()
    val lock = new java.io.File(path + ".cow_lock")
    assert(lock.createNewFile(), "could not plant the competing lock")
    val f = Future(CopyOnWrite.delete(spark, path, lit(false)))
    // while the lock is held the writer must NOT proceed
    intercept[TimeoutException] { Await.result(f, 3.seconds) }
    assert(lock.delete())
    Await.result(f, 5.minutes) // released: the writer completes
    assert(spark.read.parquet(path).count() > 0)
  }

  test("an abandoned (stale) lock is reclaimed instead of deadlocking") {
    val path = freshTable()
    val lock = new java.io.File(path + ".cow_lock")
    assert(lock.createNewFile())
    // backdate past the stale threshold: a crashed writer's leftover
    assert(lock.setLastModified(
      System.currentTimeMillis() - CopyOnWrite.StaleLockMs - 60000))
    val affected = CopyOnWrite.update(spark, path, lit(true),
      Map("o_orderpriority" -> lit("X-RECLAIMED")))
    assert(affected > 0)
    assert(!lock.exists, "lock not released after reclaim")
  }

  test("object-store schemes without atomic create are refused loudly (opt-in overrides)") {
    // a filesystem that claims an object-store scheme but is otherwise local
    class FakeS3 extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "s3a"
    }
    val fake = new FakeS3
    fake.setConf(new org.apache.hadoop.conf.Configuration())
    val e = intercept[UnsupportedOperationException](
      CopyOnWrite.acquireLock(fake, new org.apache.hadoop.fs.Path("/tmp/never"), "test"))
    assert(e.getMessage.contains("atomic exclusive create"))
    // deployment with external writer exclusion opts in and proceeds
    val lockDir = java.nio.file.Files.createTempDirectory("graft_s3lock")
    fake.getConf.setBoolean("graft.lock.allowNonAtomicCreate", true)
    val lock = new org.apache.hadoop.fs.Path(s"$lockDir/lk")
    CopyOnWrite.acquireLock(fake, lock, "test")
    assert(fake.exists(lock))
    fake.delete(lock, false)
    // HDFS-like and local schemes never hit the guard
    val local = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    CopyOnWrite.assertLockCapable(local) // must not throw
  }

  test("the writer lock is reentrant per thread and still excludes other threads") {
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshTable()
    val lock = new java.io.File(path + ".cow_lock")
    val other = CopyOnWrite.withTableLock(spark, path) {
      // a nested call on the same table runs its body at once
      assert(CopyOnWrite.withTableLock(spark, path)(42) == 42)
      assert(lock.exists, "the inner release must not drop the outer hold")
      val other = Future(CopyOnWrite.withTableLock(spark, path)(7))
      intercept[TimeoutException] { Await.result(other, 2.seconds) }
      assert(CopyOnWrite.delete(spark, path, lit(false)) == 0L) // locked writer re-enters
      other
    }
    assert(Await.result(other, 1.minute) == 7) // the outer release lets it in
    assert(!lock.exists)
  }

  test("publish replaces a small file atomically: a polling reader never sees it absent or partial") {
    val dir = Files.createTempDirectory("graft_publish")
    val p = new org.apache.hadoop.fs.Path(dir.toString, "_state")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def body(i: Int) = s"$i:" + ("x" * 4096) + s":$i"
    CopyOnWrite.publish(fs, p, body(0))
    @volatile var done = false
    var bad = 0 // written by the reader only, read after join()
    var firstBad = ""
    val polling = new java.util.concurrent.CountDownLatch(1)
    val reader = new Thread(() => while (!done) {
      val got = try CopyOnWrite.readSmall(fs, p)
                catch { case e: java.io.IOException => s"absent: $e" }
      val ok = got.split(":", -1) match {
        case Array(a, x, b) => a == b && x == "x" * 4096
        case _ => false
      }
      if (!ok) { if (bad == 0) firstBad = got.take(120); bad += 1 }
      polling.countDown()
    })
    reader.start()
    polling.await()
    (1 to 200).foreach(i => CopyOnWrite.publish(fs, p, body(i)))
    done = true
    reader.join()
    assert(bad == 0, s"reader saw a missing or partial file $bad times, first: $firstBad")
    assert(CopyOnWrite.readSmall(fs, p) == body(200))
    assert(dir.toFile.list().toSeq == Seq("_state"), "a temp sibling was left behind")
  }
}
