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
}
