package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{CheckpointDirShim, SparkException}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Pins both modes of [[graft.pin]]: executor-local without a checkpoint
  * dir, reliable files under the dir with one. */
class PinSpec extends AnyFunSuite {
  import TestSession._

  private def sc = spark.sparkContext

  /** A child with a shuffle, so its last stage reads shuffle output. */
  private def child: DataFrame =
    spark.range(0L, 1000L, 1L, 4)
      .groupBy((col("id") % 37).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  private def pinnedRdd(df: DataFrame): RDD[InternalRow] = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd
    case other => fail(s"pinned plan is not a LogicalRDD:\n$other")
  }

  /** Runs `body` and counts the completed stages that read a shuffle:
    * the child's last stage, never a read of pinned rows. */
  private def withShuffleReadingStages[T](body: => T): (T, Int) = {
    val seen = ArrayBuffer[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.parentIds.nonEmpty) seen.synchronized(seen += e.stageInfo.stageId)
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      CheckpointDirShim.drainListeners(sc)
      (result, seen.synchronized(seen.size))
    } finally sc.removeSparkListener(listener)
  }

  test("local mode: the pinned plan is a LogicalRDD with the unpinned rows") {
    assert(sc.getCheckpointDir.isEmpty)
    val pinned = pin(child)
    assert(pinned.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(rows(pinned) == rows(child))
  }

  test("reliable mode: the child's last stage runs once and its rows outlive every block") {
    val expected = rows(child)
    CheckpointDirShim.withCheckpointDir(sc) { dir =>
      val (pinned, lastStages) = withShuffleReadingStages {
        val p = pin(child)
        assert(rows(p) == expected)
        assert(rows(p) == expected)
        p
      }
      assert(lastStages == 1, "the child's last stage ran more than once")
      val rdd = pinnedRdd(pinned)
      assert(rdd.isCheckpointed)
      assert(rdd.getCheckpointFile.exists(_.contains(dir)), rdd.getCheckpointFile.toString)
      assert(rdd.toDebugString.contains("ReliableCheckpointRDD"), rdd.toDebugString)
      rdd.unpersist(blocking = true)
      assert(rows(pinned) == expected)
    }
    assert(sc.getCheckpointDir.isEmpty)
    // with the dir cleared, a new pin is executor-local again
    assert(!pinnedRdd(pin(child)).toDebugString.contains("ReliableCheckpointRDD"))
  }

  test("local mode: the same block drop loses the pinned rows") {
    val pinned = pin(child)
    assert(rows(pinned) == rows(child))
    val rdd = pinnedRdd(pinned)
    assert(rdd.isCheckpointed)
    rdd.unpersist(blocking = true)
    intercept[SparkException](pinned.collect())
  }

  test("reliable mode: pin files last only as long as a reader can reach them") {
    // Spark's ContextCleaner deletes a reliable checkpoint once its RDD is
    // garbage collected, but only with this conf set (Session.configure)
    assert(sc.getConf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L)).toDF("ida", "idb")
    CheckpointDirShim.withCheckpointDir(sc) { dir =>
      def rddDirs(f: java.io.File = new java.io.File(dir)): Set[String] =
        Option(f.listFiles).toSeq.flatten.flatMap { c =>
          if (c.isDirectory && c.getName.startsWith("rdd-")) Set(c.getName) else rddDirs(c)
        }.toSet
      /** Collects garbage until `done` holds; false after 60 s. */
      def gcUntil(done: => Boolean): Boolean = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!done && System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
        done
      }
      var labels = Dedup.connectedComponents(edges)
      val live = labels.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
        .flatMap(_.getCheckpointFile).map(new org.apache.hadoop.fs.Path(_).getName).toSet
      assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 7L))
      // every round pinned: the edge list, the labels and each round's
      // own files, of which the result reads only the last
      assert(live.nonEmpty && rddDirs().size > live.size, s"live $live, on disk ${rddDirs()}")
      assert(gcUntil(rddDirs() == live), s"live $live, on disk ${rddDirs()}")
      labels = null
      assert(gcUntil(rddDirs().isEmpty), s"left on disk: ${rddDirs()}")
    }
  }
}
