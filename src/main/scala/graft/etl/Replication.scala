package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.acid.{CopyOnWrite, Versioned}

/** Warehouse replication — the reference's replication-v1 subsystem
  * re-expressed over the versioned-table CDC lane.
  *
  * In the reference, replication is EXPORT/IMPORT carrying a
  * `ReplicationSpec` (ql/src/java/org/apache/hadoop/hive/ql/parse/
  * ReplicationSpec.java: repl.scope / repl.event.id / repl.last.id
  * table properties), fed by the metastore NOTIFICATION LOG — every
  * DML/DDL appends an ordered event (hcatalog/server-extensions/src/
  * main/java/org/apache/hive/hcatalog/listener/DbNotificationListener
  * .java; JSONInsertMessage et al.), and a destination replays events
  * STRICTLY NEWER than its recorded state
  * (ReplicationSpec.allowEventReplacementInto:199 — "only if current
  * state of the object is older than the event").
  *
  * Spark-first mapping: [[Versioned]] tables already carry an ordered,
  * durable change history — the version number IS the event id, and
  * [[Versioned.diff]]'s four-lane CDC rows are the insert/drop message
  * payloads. So a dump is either
  *  - BOOTSTRAP: the current snapshot + its version id (the initial
  *    `EXPORT ... FOR REPLICATION` full dump), or
  *  - INCREMENTAL: the CDC diff `(fromId, lastId]` as parquet — the
  *    event-batch dump, replayed by [[Versioned.applyDiff]].
  * and a load is gated by the destination's replicated-state marker
  * exactly like `repl.last.id`: behind → refuse (events are missing),
  * at or past the dump head → no-op (idempotent replay), else apply
  * and advance. Loads serialize under the destination's table lock, so
  * concurrent replayers cannot double-apply.
  *
  * Scale: a bootstrap moves the snapshot once; every later sync ships
  * only changed rows (one key-shuffle to diff at the source, one
  * anti-join+union to apply at the destination). The state marker is
  * one tiny file — no data-path cost. A 100 TB table with a 0.1%%
  * daily churn replicates ~100 GB/day instead of re-exporting.
  */
object Replication {

  private val MetaFile = "_dumpmetadata"
  private val StateFile = "_repl_state"
  private val DataDir = "data"
  private val EventsDir = "events"

  /** The dump descriptor — ReplicationSpec's KEY names kept verbatim
    * (repl.scope, repl.event.id, repl.last.id). */
  final case class DumpInfo(scope: String, fromId: Int, lastId: Int,
                            keys: Seq[String]) {
    def isBootstrap: Boolean = fromId == 0
  }

  final class ReplGapException(msg: String) extends RuntimeException(msg)

  // ---- dump (source side) ----------------------------------------------

  /** Dump `srcBase` (a [[Versioned]] table) into `dumpDir`.
    *
    * `fromId = None` → bootstrap (full current snapshot). `Some(v)` →
    * incremental: the CDC events `(v, current]`, exactly what a
    * destination at state `v` needs. `keys` is the business key the
    * CDC lanes are computed on (the reference's table-level
    * replication identity). */
  def dump(spark: SparkSession, srcBase: String, dumpDir: String,
           keys: Seq[String], fromId: Option[Int] = None): DumpInfo = {
    require(keys.nonEmpty, "replication needs a business key")
    val last = Versioned.currentVersion(spark, srcBase).getOrElse(
      throw new IllegalArgumentException(s"$srcBase is not a versioned table"))
    val from = fromId.getOrElse(0)
    require(from >= 0 && from <= last, s"fromId $from outside history 0..$last")
    // vacuumed history: the from-snapshot is gone, so the CDC diff is
    // uncomputable — say so and name the fix (the reference's repl
    // equivalent: events aged out of the notification log force a
    // fresh bootstrap)
    if (from > 0 && !Versioned.versions(spark, srcBase).contains(from))
      throw new ReplGapException(
        s"source history at version $from has been vacuumed; the " +
          "destination must be re-bootstrapped (drop it and dump with fromId=None)")

    val out = new Path(dumpDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(out, true)
    fs.mkdirs(out)

    if (from == 0) {
      // bootstrap: FILE COPY of the head snapshot when it is a full
      // version (the reference's EXPORT moves files, it does not
      // re-encode rows — and at 100 TB the decode+encode of every row
      // is the dominant bootstrap cost). A delta head has no standalone
      // file form, so it falls back to the computed merge.
      Versioned.fullSnapshotDir(spark, srcBase, last) match {
        case Some(dir) =>
          val dataDir = new Path(out, DataDir)
          fs.mkdirs(dataDir)
          Versioned.copyDataFiles(spark, dir, dataDir)
        case None =>
          Versioned.read(spark, srcBase, Some(last))
            .write.mode(SaveMode.Overwrite).parquet(new Path(out, DataDir).toString)
      }
    } else if (from < last) {
      Versioned.diff(spark, srcBase, from, last, keys)
        .write.mode(SaveMode.Overwrite).parquet(new Path(out, EventsDir).toString)
    } else {
      // from == last: an empty incremental — still a valid dump (the
      // scheduler polled with no new events); load will no-op. Parquet
      // refuses a zero-column schema, so the empty batch carries one
      // marker column and load keys off the absent _change_type.
      spark.range(0).selectExpr("cast(id as int) as _none")
        .write.mode(SaveMode.Overwrite).parquet(new Path(out, EventsDir).toString)
    }

    val info = DumpInfo("all", from, last, keys)
    CopyOnWrite.publish(fs, new Path(out, MetaFile),
      s"repl.scope=${info.scope}\nrepl.event.id=${info.fromId}\n" +
        s"repl.last.id=${info.lastId}\nrepl.keys=${keys.mkString(",")}\n")
    info
  }

  def readDumpInfo(spark: SparkSession, dumpDir: String): DumpInfo = {
    val p = new Path(dumpDir, MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val kv = CopyOnWrite.readSmall(fs, p).linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); (k, v) }.toMap
    DumpInfo(kv("repl.scope"), kv("repl.event.id").toInt, kv("repl.last.id").toInt,
      kv("repl.keys").split(",").filter(_.nonEmpty).toSeq)
  }

  // ---- load (destination side) -----------------------------------------

  /** Replicated-state id of a destination: the source version it
    * reflects (`repl.last.id` as a table property in the reference). */
  def lastReplicatedId(spark: SparkSession, destBase: String): Option[Int] = {
    val p = new Path(destBase, StateFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None else Some(CopyOnWrite.readSmall(fs, p).trim.toInt)
  }

  /** Replay a dump into `destBase`. Returns the destination's state id
    * after the load. Idempotent: re-loading an already-applied dump is
    * a no-op; loading with missing history throws [[ReplGapException]].
    * Serialized against concurrent loads by the destination's table
    * lock (the same protocol every writer here uses). */
  def load(spark: SparkSession, dumpDir: String, destBase: String): Int = {
    val info = readDumpInfo(spark, dumpDir)
    CopyOnWrite.withTableLock(spark, destBase) {
      val state = lastReplicatedId(spark, destBase)
      val dump = new Path(dumpDir)
      val fs = dump.getFileSystem(spark.sparkContext.hadoopConfiguration)

      if (info.isBootstrap) {
        state match {
          case Some(s) if s >= info.lastId => s // replay of an old bootstrap
          case Some(s) =>
            throw new ReplGapException(
              s"destination at state $s cannot be re-bootstrapped to ${info.lastId}; " +
                "load the incremental dumps instead")
          case None =>
            // a table with history but NO replication state is someone
            // else's data, not an uninitialized replica — refusing here
            // is what keeps a mistyped destBase from silently becoming
            // a fork of the source
            if (Versioned.currentVersion(spark, destBase).nonEmpty)
              throw new ReplGapException(
                s"$destBase has committed versions but no replication state; " +
                  "refusing to bootstrap over a non-replica table")
            // bootstrap load: file copy (IMPORT semantics) — the dump's
            // data dir is already a complete parquet snapshot
            Versioned.commitFiles(spark, destBase, new Path(dump, DataDir))
            writeState(spark, destBase, info.lastId)
            info.lastId
        }
      } else {
        val s = state.getOrElse(throw new ReplGapException(
          s"destination $destBase has no bootstrap; load a bootstrap dump first"))
        if (s >= info.lastId) s // already applied — idempotent replay
        else if (s != info.fromId)
          throw new ReplGapException(
            s"destination at state $s but dump covers (${info.fromId}, ${info.lastId}]: " +
              "events are missing; dump incrementally from the destination's state")
        else {
          val events = new Path(dump, EventsDir)
          val changes = spark.read.parquet(events.toString)
          if (!changes.columns.contains("_change_type")) {
            // empty incremental (no new events at dump time)
            writeState(spark, destBase, info.lastId)
          } else {
            val current = Versioned.read(spark, destBase)
            val next = Versioned.applyDiff(current, changes, info.keys)
            Versioned.commit(spark, destBase, next)
            writeState(spark, destBase, info.lastId)
          }
          info.lastId
        }
      }
    }
  }

  /** One sync cycle source → destination: dump from the destination's
    * recorded state (bootstrap when none) and load — the REPL DUMP +
    * REPL LOAD pair a scheduler runs. */
  def sync(spark: SparkSession, srcBase: String, destBase: String,
           dumpDir: String, keys: Seq[String]): Int = {
    val from = lastReplicatedId(spark, destBase)
    dump(spark, srcBase, dumpDir, keys, from)
    load(spark, dumpDir, destBase)
  }

  // the state marker is metadata, never data: one atomic replace, so a
  // crash or a concurrent sync never finds a replica without its state
  private def writeState(spark: SparkSession, destBase: String, id: Int): Unit = {
    val p = new Path(destBase, StateFile)
    CopyOnWrite.publish(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, id.toString)
  }
}
