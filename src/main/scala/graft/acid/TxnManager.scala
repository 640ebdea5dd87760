package graft.acid

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Cross-process transaction + lock manager — the shared half of the
  * reference's ACID stack that [[CopyOnWrite]]'s sidecar lock deliberately
  * reduced away.
  *
  * The reference splits this across three places:
  *  - `ql/src/java/org/apache/hadoop/hive/ql/lockmgr/DbTxnManager.java:58`
  *    — the client: opens txns, builds lock requests (shared-read for
  *    inputs; shared-write for UPDATE/DELETE; exclusive for
  *    INSERT OVERWRITE / DDL — acquireLocks:183-340), heartbeats.
  *  - `metastore/src/java/org/apache/hadoop/hive/metastore/txn/TxnHandler.java`
  *    — the service: a FIFO lock queue in an RDBMS, granted by scanning
  *    every lock ahead of yours on an overlapping resource through a
  *    3-mode compatibility jump table (checkLock:2440, buildJumpTable:2972).
  *  - `ql/src/java/org/apache/hadoop/hive/ql/txn/AcidHouseKeeperService.java`
  *    — the reaper: aborts transactions whose heartbeat went stale
  *    (TxnHandler.performTimeOuts:2830, timeOutLocks:2764).
  *
  * Spark-first mapping: the RDBMS queue becomes a shared directory of
  * tiny marker files on the warehouse filesystem — the same medium the
  * tables live on, so any process that can write the table can
  * coordinate, with no extra service. Entries are ordered by an
  * atomically-allocated monotone id (exclusive-create, the ZooKeeper
  * sequential-node idea); state transitions are renames (atomic on HDFS
  * and local); the grant check runs under a short sidecar mutex, the
  * file-system stand-in for TxnHandler's serializable DB transaction.
  * Object stores without atomic create are refused loudly by the same
  * capability guard as [[CopyOnWrite]] ([[CopyOnWrite.assertLockCapable]]).
  *
  * Scale notes: all state is metadata — one ~100-byte file per open txn
  * and per lock component, listed (not read) on the poll path. At 1000
  * concurrent queries that is a directory listing of a few thousand
  * entries per grant check, served by the namenode from memory; data
  * paths never touch this machinery.
  */
object TxnManager {

  sealed abstract class LockMode(val name: String, val rank: Int)
  /** reads — compatible with other reads and with insert/update writers */
  case object SharedRead extends LockMode("SHARED_READ", 0)
  /** update/delete writers — compatible with readers, not with each other
    * (DbTxnManager.acquireLocks: UPDATE/DELETE take setSemiShared) */
  case object SharedWrite extends LockMode("SHARED_WRITE", 1)
  /** INSERT OVERWRITE / DDL — compatible with nothing */
  case object Exclusive extends LockMode("EXCLUSIVE", 2)

  private val Modes = Seq(SharedRead, SharedWrite, Exclusive)
  private def mode(name: String): LockMode =
    Modes.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown lock mode $name"))

  /** One lockable resource at db / table / partition granularity —
    * LockComponent in the reference thrift model. `table=None` claims the
    * whole database; `partition=None` the whole table. */
  final case class LockComponent(mode: LockMode, db: String,
                                 table: Option[String] = None,
                                 partition: Option[String] = None) {
    require(partition.isEmpty || table.nonEmpty,
      "a partition lock needs a table")
  }

  sealed trait LockState { def name: String }
  case object Acquired extends LockState { val name = "ACQUIRED" }
  case object Waiting extends LockState { val name = "WAITING" }

  final class LockException(msg: String) extends RuntimeException(msg)
  final class TxnAbortedException(msg: String) extends RuntimeException(msg)

  /** Handle for one granted-or-queued lock request (external lock id). */
  final case class LockHandle(extLockId: Long, state: LockState)

  // ---- on-disk model ----------------------------------------------------
  // <dir>/txns/{open|committed|aborted}_%012d   txn registry, state in name
  // <dir>/lockids/%012d                         monotone ext-lock-id markers
  // <dir>/locks/%012d.%03d.{waiting|acquired}   one file per component
  // <dir>/locks/.mutex                          grant-check critical section
  // Txn/lock-id monotonicity: ids are max(existing)+1 under exclusive
  // create; the vacuum never removes the numerically-largest marker, so
  // the high-water mark survives cleaning and ids are never reused.

  private def fmtId(n: Long) = f"$n%012d"

  private[acid] case class LockRow(extId: Long, intId: Int, state: LockState,
                                   comp: LockComponent, txnId: Long,
                                   user: String, queryId: String,
                                   modTime: Long, path: Path)

  /** Default heartbeat timeout — hive.txn.timeout's 300 s default
    * (TxnHandler reads metastore conf TXN_TIMEOUT). */
  val DefaultTimeoutMs: Long = 300000L

  def apply(spark: SparkSession, dir: String,
            user: String = System.getProperty("user.name", "anonymous")): TxnManager =
    new TxnManager(spark, dir, user)
}

final class TxnManager(spark: SparkSession, dir: String, user: String) {
  import TxnManager._

  private val root = new Path(dir)
  private val txnsDir = new Path(root, "txns")
  private val lockIdsDir = new Path(root, "lockids")
  private val locksDir = new Path(root, "locks")
  private val mutex = new Path(locksDir, ".mutex")
  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  locally {
    val f = fs
    CopyOnWrite.assertLockCapable(f)
    Seq(txnsDir, lockIdsDir, locksDir).foreach(f.mkdirs(_))
  }

  // txns and ext-lock-ids this manager instance owns, for heartbeat()
  private val ownTxns = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val ownLocks = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  // ---- id allocation ----------------------------------------------------

  private def listIds(d: Path, f: FileSystem): Seq[(String, Long)] =
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      n.split("[_.]") match {
        case Array(state, id) if id.forall(_.isDigit) => Some((state, id.toLong))
        case _ if n.forall(_.isDigit) => Some(("", n.toLong))
        case _ => None
      }
    }

  /** max(existing)+1 under exclusive create — collision means somebody
    * else took the id this instant; re-list and retry. */
  @annotation.tailrec
  private def allocate(d: Path, nameOf: Long => String): Long = {
    val f = fs
    val next = (listIds(d, f).map(_._2) :+ 0L).max + 1
    if (CopyOnWrite.tryAcquire(f, new Path(d, nameOf(next)))) next
    else allocate(d, nameOf)
  }

  // ---- transaction lifecycle (TxnHandler.openTxns / commitTxn / abortTxn)

  def openTxn(): Long = {
    val id = allocate(txnsDir, n => s"open_${fmtId(n)}")
    ownTxns.add(id)
    id
  }

  private def txnFile(state: String, id: Long) =
    new Path(txnsDir, s"${state}_${fmtId(id)}")

  /** rename with a missing source is `false`, not FileNotFoundException
    * (RawLocalFileSystem throws where HDFS returns false). */
  private def renameQuiet(f: FileSystem, src: Path, dst: Path): Boolean =
    try f.rename(src, dst)
    catch { case _: java.io.FileNotFoundException => false }

  /** Commit fences on the registry: if the housekeeper aborted this txn
    * (heartbeat timeout) the rename source is gone and the caller gets
    * TxnAbortedException — TxnHandler.commitTxn's "txn no longer exists"
    * path, which is what makes a zombie writer safe. */
  def commitTxn(txnId: Long): Unit = withMutex {
    val f = fs
    if (!renameQuiet(f, txnFile("open", txnId), txnFile("committed", txnId))) {
      val why = if (f.exists(txnFile("aborted", txnId)))
        s"txn $txnId was aborted (heartbeat timeout or explicit abort)"
      else s"txn $txnId is not open"
      throw new TxnAbortedException(why)
    }
    releaseTxnLocks(f, txnId)
    ownTxns.remove(txnId)
  }

  def abortTxn(txnId: Long): Unit = withMutex {
    val f = fs
    if (!renameQuiet(f, txnFile("open", txnId), txnFile("aborted", txnId)) &&
        !f.exists(txnFile("aborted", txnId)))
      throw new LockException(s"txn $txnId is not open")
    releaseTxnLocks(f, txnId)
    ownTxns.remove(txnId)
  }

  private def releaseTxnLocks(f: FileSystem, txnId: Long): Unit =
    liveLocks(f).filter(_.txnId == txnId).foreach { l =>
      f.delete(l.path, false); ownLocks.remove(l.extId)
    }

  // ---- lock queue -------------------------------------------------------

  private def compToJson(c: LockComponent, txnId: Long, queryId: String): String = {
    val q = CopyOnWrite.jsonStr _
    val t = c.table.map(q).getOrElse("null")
    val p = c.partition.map(q).getOrElse("null")
    s"""{"mode":${q(c.mode.name)},"db":${q(c.db)},"table":$t,"partition":$p,""" +
      s""""txn":$txnId,"user":${q(user)},"query":${q(queryId)}}"""
  }

  private def parseLockFile(f: FileSystem, p: Path): Option[LockRow] = {
    val name = p.getName
    name.split("\\.") match {
      case Array(ext, int, st) if ext.forall(_.isDigit) && int.forall(_.isDigit) =>
        val state = if (st == "acquired") Acquired else Waiting
        try {
          val kv = CopyOnWrite.jsonFields(CopyOnWrite.readSmall(f, p))
          val comp = LockComponent(
            mode(kv("mode").get), kv("db").get,
            kv.getOrElse("table", None), kv.getOrElse("partition", None))
          Some(LockRow(ext.toLong, int.toInt, state, comp,
            kv.get("txn").flatten.map(_.toLong).getOrElse(0L),
            kv.get("user").flatten.getOrElse(""),
            kv.get("query").flatten.getOrElse(""),
            f.getFileStatus(p).getModificationTime, p))
        } catch { case _: java.io.FileNotFoundException => None }
      case _ => None
    }
  }

  private def liveLocks(f: FileSystem): Seq[LockRow] =
    if (!f.exists(locksDir)) Nil
    else f.listStatus(locksDir).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .flatMap(st => parseLockFile(f, st.getPath))
      .sortBy(l => (l.extId, l.intId))

  /** Enqueue a lock request (one ext id, one file per component) and run
    * the first grant check. Mirrors TxnHandler.lock → checkLock. */
  def requestLocks(components: Seq[LockComponent], txnId: Long = 0L,
                   queryId: String = ""): LockHandle = {
    require(components.nonEmpty, "empty lock request")
    if (txnId != 0L && !fs.exists(txnFile("open", txnId)))
      throw new TxnAbortedException(s"txn $txnId is not open")
    withMutex {
      // id allocation MUST sit inside the critical section with the
      // component-file writes: allocated-outside, a later requester's
      // grant check (which scans only SMALLER ids) could run in the
      // window where this id exists but its files don't — and both
      // sides of an exclusive conflict would grant. The reference gets
      // this atomicity from TxnHandler's serializable DB transaction
      // (enqueue + checkLock in one txn); the mutex is our stand-in.
      val extId = allocate(lockIdsDir, fmtId)
      val f = fs
      components.zipWithIndex.foreach { case (c, i) =>
        CopyOnWrite.publish(f, lockFileName(extId, i, Waiting),
          compToJson(c, txnId, queryId))
      }
      ownLocks.add(extId)
      LockHandle(extId, checkLockLocked(f, extId))
    }
  }

  private def lockFileName(extId: Long, intId: Int, state: LockState) =
    new Path(locksDir, s"${fmtId(extId)}.${f"$intId%03d"}.${state.name.toLowerCase}")

  /** Re-run the grant check for a queued request — the poll the reference
    * client does via checkLock(extLockId). */
  def checkLock(extLockId: Long): LockState =
    withMutex { checkLockLocked(fs, extLockId) }

  /** Blocking acquire: enqueue, then poll until granted or timeout.
    * DbLockManager.lock's isBlocking=true path; timeout doubles as the
    * reference's deadlock escape (there is no wait-for graph — a cycle
    * surfaces as both sides timing out, by design). */
  def acquireLocks(components: Seq[LockComponent], txnId: Long = 0L,
                   queryId: String = "", timeoutMs: Long = 60000L): LockHandle = {
    val h = requestLocks(components, txnId, queryId)
    if (h.state == Acquired) return h
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var st: LockState = h.state
    while (st != Acquired) {
      if (System.nanoTime() > deadline) {
        unlock(h.extLockId)
        throw new LockException(
          s"lock request ${h.extLockId} still waiting after ${timeoutMs}ms " +
          s"(components: ${components.mkString(", ")})")
      }
      Thread.sleep(50)
      st = checkLock(h.extLockId)
    }
    LockHandle(h.extLockId, Acquired)
  }

  /** Release all components of one request — TxnHandler.unlock. Txn locks
    * are normally released by commit/abort; unlocking them early is the
    * same error the reference raises. */
  def unlock(extLockId: Long): Unit = withMutex {
    val f = fs
    val mine = liveLocks(f).filter(_.extId == extLockId)
    if (mine.exists(_.txnId != 0L))
      throw new LockException(
        s"lock $extLockId is bound to txn ${mine.head.txnId}; commit or abort the txn")
    mine.foreach(l => f.delete(l.path, false))
    ownLocks.remove(extLockId)
  }

  /** The grant check, verbatim from TxnHandler.checkLock:2440: for each
    * WAITING component of `extId`, walk every lock with a smaller id on an
    * overlapping resource (db equal; a missing table/partition side claims
    * the whole parent — :2497-2516) and act per the jump table; one WAIT
    * parks the whole request (savepoint-rollback semantics — all
    * components grant together or none do). */
  private def checkLockLocked(f: FileSystem, extId: Long): LockState = {
    val all = liveLocks(f)
    val mine = all.filter(_.extId == extId)
    if (mine.isEmpty) throw new LockException(s"no such lock $extId (timed out?)")
    if (mine.forall(_.state == Acquired)) return Acquired

    val earlier = all.filter(_.extId < extId)
    val granted = mine.forall { m =>
      var verdict = true // acquire unless an ahead lock says WAIT
      val ahead = earlier.filter(o => overlaps(m, o)).sortBy(l => (-l.extId, -l.intId))
      var done = false
      for (o <- ahead if !done) {
        action(m, o) match {
          case "WAIT" =>
            // an ignored WAIT falls through to ACQUIRE, exactly :2545
            if (ignoreConflict(m, o)) done = true
            else { verdict = false; done = true }
          case "ACQUIRE" => done = true
          case _ => () // KEEP_LOOKING
        }
      }
      verdict
    }
    if (granted) {
      mine.filter(_.state == Waiting).foreach { m =>
        if (!f.rename(m.path, lockFileName(m.extId, m.intId, Acquired)))
          throw new LockException(s"lost lock file ${m.path} during grant")
      }
      Acquired
    } else Waiting
  }

  /** Resource overlap, TxnHandler.checkLock:2497-2516: same db, then a
    * null table on either side claims the db, then a null partition on
    * either side claims the table. */
  private def overlaps(a: LockRow, b: LockRow): Boolean =
    a.comp.db == b.comp.db &&
      (a.comp.table.isEmpty || b.comp.table.isEmpty || a.comp.table == b.comp.table) &&
      (a.comp.partition.isEmpty || b.comp.partition.isEmpty ||
        a.comp.partition == b.comp.partition)

  /** buildJumpTable:2972 condensed. desired × (examined mode, examined
    * state) → ACQUIRE / WAIT / KEEP_LOOKING. */
  private def action(desired: LockRow, examined: LockRow): String =
    (desired.comp.mode, examined.comp.mode, examined.state) match {
      case (SharedRead, SharedRead, Acquired) => "ACQUIRE"
      case (SharedRead, SharedRead, Waiting) => "KEEP_LOOKING"
      case (SharedRead, SharedWrite, Acquired) => "ACQUIRE"
      case (SharedRead, SharedWrite, Waiting) => "KEEP_LOOKING"
      case (SharedRead, Exclusive, _) => "WAIT"
      case (SharedWrite, SharedRead, _) => "KEEP_LOOKING"
      case (SharedWrite, _, _) => "WAIT" // vs SW or E, any state
      case (Exclusive, _, _) => "WAIT"
    }

  /** TxnHandler.ignoreConflict:2581 — db-level SR vs table-level E pass
    * each other (the reference's "IUD with dynamic partitions" special
    * case), components of one txn never self-conflict, nor do components
    * of one txn-less request. */
  private def ignoreConflict(desired: LockRow, examined: LockRow): Boolean = {
    def dbSr(l: LockRow) = l.comp.table.isEmpty && l.comp.mode == SharedRead
    def tblEx(l: LockRow) = l.comp.table.nonEmpty && l.comp.partition.isEmpty &&
      l.comp.mode == Exclusive
    (dbSr(desired) && tblEx(examined)) || (dbSr(examined) && tblEx(desired)) ||
      (desired.txnId != 0L && desired.txnId == examined.txnId) ||
      (desired.txnId == 0L && desired.extId == examined.extId)
  }

  // ---- heartbeats + housekeeping ---------------------------------------

  /** Touch everything this manager owns — DbTxnManager.heartbeat():421.
    * Txn liveness rides the txn file's mtime; txn-less locks ride their
    * own files (TxnHandler.acquire: "if lock is part of txn, heartbeat
    * info is in txn record"). */
  def heartbeat(): Unit = {
    val f = fs
    val now = System.currentTimeMillis()
    ownTxns.forEach { id =>
      try f.setTimes(txnFile("open", id), now, -1)
      catch { case _: java.io.FileNotFoundException =>
        ownTxns.remove(id)
        throw new TxnAbortedException(
          s"txn $id no longer open — aborted by the housekeeper (heartbeat too late)")
      }
    }
    if (!ownLocks.isEmpty) {
      val live = liveLocks(f)
      ownLocks.forEach { ext =>
        live.filter(l => l.extId == ext && l.txnId == 0L)
          .foreach(l => try f.setTimes(l.path, now, -1)
            catch { case _: java.io.FileNotFoundException => () })
      }
    }
  }

  /** Background heartbeater — DbTxnManager.Heartbeater on its scheduled
    * pool (:493-511). Close to stop. */
  def startHeartbeater(intervalMs: Long): AutoCloseable = {
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, s"graft-txn-heartbeat-$dir"); t.setDaemon(true); t
    })
    ex.scheduleAtFixedRate(() => try heartbeat() catch { case _: Throwable => () },
      intervalMs, intervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => { ex.shutdownNow(); () }
  }

  /** The AcidHouseKeeperService.java:58 pass: abort open txns whose
    * heartbeat is stale (performTimeOuts:2830), drop stale txn-less locks
    * (timeOutLocks:2764), vacuum completed-txn and lock-id markers —
    * always keeping each family's numeric max so ids stay monotone.
    * Any process sharing the dir may run it. Returns (txns aborted,
    * locks reaped). */
  def houseKeep(timeoutMs: Long = DefaultTimeoutMs,
                retentionMs: Long = 24L * 3600 * 1000): (Seq[Long], Int) = withMutex {
    val f = fs
    val now = System.currentTimeMillis()
    val aborted = scala.collection.mutable.ArrayBuffer[Long]()
    // stale open txns → aborted, their locks freed
    listIds(txnsDir, f).collect { case ("open", id) => id }.foreach { id =>
      val p = txnFile("open", id)
      try if (now - f.getFileStatus(p).getModificationTime > timeoutMs) {
        if (renameQuiet(f, p, txnFile("aborted", id))) {
          releaseTxnLocks(f, id); aborted += id
        }
      } catch { case _: java.io.FileNotFoundException => () }
    }
    // stale txn-less lock components → dropped
    var reaped = 0
    liveLocks(f).filter(l => l.txnId == 0L &&
        now - l.modTime > timeoutMs).foreach { l =>
      if (f.delete(l.path, false)) reaped += 1
    }
    // vacuum: completed txn markers + orphan lock-id markers past
    // retention, never the numeric max (the id high-water mark)
    def vacuum(d: Path, keep: Long => Boolean): Unit = {
      val ids = listIds(d, f)
      val maxId = (ids.map(_._2) :+ 0L).max
      ids.foreach { case (state, id) =>
        if (id != maxId && state != "open" && !keep(id)) {
          val p = if (state.isEmpty) new Path(d, fmtId(id))
                  else new Path(d, s"${state}_${fmtId(id)}")
          try if (now - f.getFileStatus(p).getModificationTime > retentionMs)
            f.delete(p, false)
          catch { case _: java.io.FileNotFoundException => () }
        }
      }
    }
    vacuum(txnsDir, _ => false)
    val liveExt = liveLocks(f).map(_.extId).toSet
    vacuum(lockIdsDir, liveExt.contains)
    (aborted.toSeq, reaped)
  }

  // ---- observability (DDLTask showLocks / showTxns) ---------------------

  def showLocks(): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = liveLocks(fs).map { l =>
      Row(l.extId, l.intId, l.comp.db, l.comp.table.orNull,
        l.comp.partition.orNull, l.state.name, l.comp.mode.name,
        if (l.txnId == 0L) null else java.lang.Long.valueOf(l.txnId),
        l.user, l.queryId)
    }
    spark.createDataFrame(rows.asJava, StructType.fromDDL(
      "lockid BIGINT, lock_int_id INT, db STRING, tbl STRING, part STRING, " +
      "state STRING, type STRING, txnid BIGINT, user STRING, queryid STRING"))
  }

  def showTxns(): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = listIds(txnsDir, fs).collect {
      case (state, id) if state == "open" || state == "aborted" =>
        Row(id, state.toUpperCase, user)
    }.sortBy(_.getLong(0))
    spark.createDataFrame(rows.asJava,
      StructType.fromDDL("txnid BIGINT, state STRING, user STRING"))
  }

  private def withMutex[T](body: => T): T = {
    val f = fs
    CopyOnWrite.acquireLock(f, mutex, "txn-manager")
    try body finally f.delete(mutex, false)
  }
}

/** SHOW LOCKS / SHOW TRANSACTIONS / ABORT TRANSACTIONS — the DDLTask
  * observability statements over the lock service (reference grammar
  * HiveParser.g showStatement / abortTransactionStatement, executed by
  * DDLTask.showLocks / showTxns / abortTxns against the metastore's
  * TxnHandler). Routed from the HPL/SQL passthrough like the GRANT and
  * constraint DDL; the service directory comes from the session conf
  * `graft.txn.dir`. */
object TxnDdl {
  private val ShowLocksRe =
    """(?is)\s*SHOW\s+LOCKS(?:\s+([\w.]+))?\s*;?\s*""".r
  private val ShowTxnsRe = """(?is)\s*SHOW\s+TRANSACTIONS\s*;?\s*""".r
  private val ShowCompactionsRe = """(?is)\s*SHOW\s+COMPACTIONS\s*;?\s*""".r
  private val AbortRe =
    """(?is)\s*ABORT\s+TRANSACTIONS((?:\s+\d+)+)\s*;?\s*""".r

  def matches(sql: String): Boolean = sql match {
    case ShowLocksRe(_) | ShowTxnsRe() | ShowCompactionsRe() | AbortRe(_) => true
    case _ => false
  }

  def run(spark: SparkSession, sql: String): DataFrame = {
    val dir = spark.conf.getOption("graft.txn.dir").getOrElse(
      throw new IllegalStateException(
        "no lock service configured: set graft.txn.dir to a shared directory"))
    sql match {
      case ShowLocksRe(table) =>
        val df = TxnManager(spark, dir).showLocks()
        if (table == null) df
        else df.filter(df("tbl") === table.split("\\.").last)
      case ShowTxnsRe() => TxnManager(spark, dir).showTxns()
      case ShowCompactionsRe() => CompactionHistory.show(spark, dir)
      case AbortRe(ids) =>
        val tm = TxnManager(spark, dir)
        ids.trim.split("\\s+").foreach(id => tm.abortTxn(id.toLong))
        spark.emptyDataFrame
      case _ => throw new IllegalArgumentException(s"not a txn statement: $sql")
    }
  }
}

/** Compaction audit log — the metastore's COMPACTIONS/COMPLETED_COMPACTIONS
  * tables that back SHOW COMPACTIONS (DDLTask.showCompactions:2691,
  * recorded by txn/compactor/{Initiator,Worker,Cleaner} and retained by
  * AcidCompactionHistoryService). [[Versioned]] compactions and vacuums
  * and [[CopyOnWrite]] file merges append one tiny JSON marker each to
  * `<graft.txn.dir>/compactions/` when the lock service is configured;
  * without a service dir there is no shared registry to write to and
  * recording is skipped (the compaction itself is unaffected). */
object CompactionHistory {
  private def cdir(dir: String) = new Path(new Path(dir), "compactions")

  /** Append one event; never fails the surrounding compaction. */
  def record(spark: SparkSession, table: String, partition: Option[String],
             ctype: String, state: String, startMs: Long): Unit =
    spark.conf.getOption("graft.txn.dir").foreach { dir =>
      try {
        val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.mkdirs(cdir(dir))
        val worker = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
        val q = CopyOnWrite.jsonStr _
        val body = s"""{"table":${q(table)},"partition":${partition.map(q).getOrElse("null")},""" +
          s""""type":${q(ctype)},"state":${q(state)},"worker":${q(worker)},""" +
          s""""start":$startMs,"end":${System.currentTimeMillis()}}"""
        CopyOnWrite.publish(f, new Path(cdir(dir),
          f"$startMs%013d_${java.util.UUID.randomUUID().toString.take(8)}"), body)
      } catch { case _: java.io.IOException => () }
    }

  def show(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = cdir(dir)
    // event files are named <zero-padded startMs>_<rand>: name order IS
    // start order (hidden names are events still being published)
    val rows = if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq.filterNot(_.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName).map { st =>
      val kv = CopyOnWrite.jsonFields(CopyOnWrite.readSmall(f, st.getPath))
      Row(kv("table").orNull, kv.getOrElse("partition", None).orNull,
        kv("type").orNull, kv("state").orNull, kv("worker").orNull,
        kv("start").map(_.toLong).map(java.lang.Long.valueOf).orNull,
        kv("end").map(_.toLong).map(java.lang.Long.valueOf).orNull)
    }
    spark.createDataFrame(rows.asJava, StructType.fromDDL(
      "tbl STRING, part STRING, type STRING, state STRING, " +
      "worker STRING, start_ms BIGINT, end_ms BIGINT"))
  }
}
