package graft.acid

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.regex.Matcher

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** UPDATE / DELETE as copy-on-write table rewrites.
  *
  * The reference implements DML over ACID ORC tables by rewriting the
  * statement to `INSERT ... SELECT ROW__ID` into delta files
  * (ql/src/java/org/apache/hadoop/hive/ql/parse/
  * UpdateDeleteSemanticAnalyzer.java, delta layout AcidUtils.java:56-68,
  * merge-on-read OrcRawRecordMerger.java). Spark has no native ACID
  * tables (SURVEY.md §2.10), so this takes the documented copy-on-write
  * strategy: read -> transform -> write staging -> atomic-ish swap. That
  * is also what modern lakehouse formats do for COW tables. DataFrames
  * opened before a rewrite hold a stale file listing — re-read the path
  * after update/delete returns.
  *
  * Scale notes: the rewrite is O(table) — at 100 TB you partition the
  * table and call these per affected partition (`partitionFilter` limits
  * the rewrite set); the swap is two renames, not a data copy. Reads
  * during the swap window see the old or new table, never a mix.
  */
object CopyOnWrite {

  /** How long a writer waits for a competing writer's lock before giving
    * up, and how old a lock must be before it is presumed abandoned (a
    * crashed writer) and reclaimed. Both deliberately coarse: COW rewrites
    * are minutes-scale at 100 TB, so contention is rare and the cost of a
    * stale lock is a stalled pipeline, not corruption. */
  private[graft] val LockWaitMs = 60000L
  private[graft] val StaleLockMs = 10L * 60 * 1000

  /** Schemes whose `create(overwrite=false)` is client-side
    * check-then-act, NOT an atomic exclusive create — the object
    * stores. The sidecar lock cannot exclude two concurrent writers
    * there (both can pass the existence probe), so rather than silently
    * degrading to best-effort, refuse loudly. A deployment that has
    * writer mutual-exclusion from elsewhere (single-writer scheduler,
    * external lock service) opts in with the hadoop conf
    * `graft.lock.allowNonAtomicCreate=true`; conditional-put semantics
    * (S3 If-None-Match) are not surfaced through the Hadoop create()
    * API, so this is a documented capability boundary, not a bug. */
  private[graft] val NonAtomicCreateSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss", "cos", "swift")

  private[graft] def assertLockCapable(fs: FileSystem): Unit =
    if (NonAtomicCreateSchemes(fs.getScheme) &&
        !fs.getConf.getBoolean("graft.lock.allowNonAtomicCreate", false))
      throw new UnsupportedOperationException(
        s"writer lock needs atomic exclusive create, which '${fs.getScheme}' does not " +
        "provide; supply external writer mutual-exclusion and set " +
        "graft.lock.allowNonAtomicCreate=true to proceed")

  /** One attempt to atomically create the lock file. HDFS `create(f,
    * overwrite=false)` is atomic server-side, but RawLocalFileSystem's is
    * check-then-act — two local writers can both pass the exists check —
    * so the local scheme goes through `File.createNewFile` (O_CREAT|
    * O_EXCL, atomic at the kernel). */
  private[acid] def tryAcquire(fs: FileSystem, lock: Path): Boolean = {
    val tag = s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName} " +
      s"${System.currentTimeMillis()}\n"
    if (fs.getScheme == "file") {
      val f = new java.io.File(lock.toUri.getPath)
      f.getParentFile.mkdirs()
      if (!f.createNewFile()) false
      else { Files.writeString(f.toPath, tag); true }
    } else {
      try {
        val out = fs.create(lock, false)
        out.writeBytes(tag); out.close(); true
      } catch { case _: java.io.IOException => false }
    }
  }

  /** Remove `lock` if it is older than `staleMs` (its holder crashed).
    * Rename-then-verify, not check-then-delete: a plain delete raced a
    * competitor that freed and retook the lock between our status read
    * and the delete — deleting ITS fresh lock and letting two holders
    * run. Renaming to a unique claim name is atomic (one claimer wins);
    * the winner re-verifies staleness on the claimed file and RESTORES
    * it if it turns out to be a live lock it stole in that window. */
  private[graft] def reclaimIfStale(fs: FileSystem, lock: Path, staleMs: Long): Unit =
    try {
      def stale(p: Path) =
        System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime > staleMs
      lazy val claim = new Path(s"$lock.reclaim-${java.util.UUID.randomUUID().toString.take(8)}")
      if (stale(lock) && fs.rename(lock, claim)) {
        if (stale(claim)) fs.delete(claim, false) // truly abandoned: reclaimed
        else fs.rename(claim, lock) // stole a live lock: put it back
      }
    } catch { case _: java.io.FileNotFoundException => () } // raced free

  private[graft] def acquireLock(fs: FileSystem, lock: Path, what: String): Unit = {
    assertLockCapable(fs)
    val deadline = System.nanoTime() + LockWaitMs * 1000000L
    while (!tryAcquire(fs, lock)) {
      reclaimIfStale(fs, lock, StaleLockMs)
      if (System.nanoTime() > deadline)
        throw new java.io.IOException(
          s"$what writer lock busy after ${LockWaitMs}ms: $lock")
      Thread.sleep(50)
    }
  }

  // qualified table paths whose writer lock the current thread holds
  private val heldLocks = ThreadLocal.withInitial(() => scala.collection.mutable.Set[String]())

  /** The writer lock every table-mutating path takes — the reference's
    * table-level X lock (lockmgr/DbTxnManager.java:58,
    * ZooKeeperHiveLockManager) reduced to the COW case: writers
    * serialize, readers never block (they see the old or new table via
    * the staged swap, never a mix). It is acquired BEFORE the table read
    * so a serialized writer observes its predecessor's result rather
    * than computing from a stale snapshot (lost update).
    *
    * With `graft.txn.dir` set it is an exclusive lock in that shared
    * [[TxnManager]] queue; otherwise it is an atomically created
    * `<path>.cow_lock` sidecar ([[tryAcquire]]), reclaimed once older
    * than [[StaleLockMs]]. Reentrant per thread: a nested call on a path
    * this thread already holds runs its body directly, so a locked
    * operation may call another locked operation on the same table. */
  private[graft] def withTableLock[T](spark: SparkSession, path: String)(body: => T): T = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(new Path(path)).toString
    val held = heldLocks.get()
    if (held(key)) body
    else {
      val release: () => Unit = spark.conf.getOption("graft.txn.dir") match {
        case Some(txnDir) =>
          // shared lock-service mode (DbTxnManager/TxnHandler analog):
          // the writer queues with every other client of that service,
          // not just writers of this table path
          val tm = TxnManager(spark, txnDir)
          val h = tm.acquireLocks(Seq(TxnManager.LockComponent(
            TxnManager.Exclusive, "default", Some(new Path(path).getName))))
          val hb = tm.startHeartbeater(30000L)
          () => { hb.close(); tm.unlock(h.extLockId) }
        case None =>
          val lock = new Path(path + ".cow_lock")
          acquireLock(fs, lock, "COW")
          () => fs.delete(lock, false)
      }
      held += key
      try body finally { held -= key; release() }
    }
  }

  /** Replace the small file `path` with `body` (UTF-8) atomically: a
    * reader sees the old or the new content, never a missing or partial
    * file, and a crash leaves the old file intact. The body goes to a
    * unique hidden temp sibling that one rename-over moves into place.
    * Hadoop's local rename-with-OVERWRITE deletes the target first, so
    * the local scheme uses the kernel's atomic rename(2) instead and
    * writes no checksum sidecar (a stale one is dropped first, or a
    * checksummed reader would reject the new bytes). */
  private[graft] def publish(fs: FileSystem, path: Path, body: String): Unit = {
    val tmpName = s".${path.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp"
    val bytes = body.getBytes(UTF_8)
    if (fs.getScheme == "file") {
      val dst = Paths.get(path.toUri.getPath)
      Files.createDirectories(dst.getParent)
      val tmp = Files.write(dst.resolveSibling(tmpName), bytes)
      Files.deleteIfExists(dst.resolveSibling(s".${path.getName}.crc"))
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    } else {
      val tmp = new Path(path.getParent, tmpName)
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      FileContext.getFileContext(tmp.toUri, fs.getConf).rename(tmp, path, Options.Rename.OVERWRITE)
    }
  }

  /** The whole of a small file, as UTF-8. */
  private[graft] def readSmall(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** One JSON string literal, for the engine's JSON sidecars. */
  private[graft] def jsonStr(s: String): String = s.iterator.map {
    case c @ ('"' | '\\') => s"\\$c"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** The body of a JSON string literal back to its text, in one pass. */
  private[graft] def jsonUnescape(s: String): String =
    """\\(?:u([0-9a-fA-F]{4})|(.))""".r.replaceAllIn(s, m => Matcher.quoteReplacement(
      Option(m.group(1)).map(h => Integer.parseInt(h, 16).toChar.toString).getOrElse(
        Map("n" -> "\n", "r" -> "\r", "t" -> "\t", "b" -> "\b", "f" -> "\f")
          .getOrElse(m.group(2), m.group(2)))))

  /** The top-level string, integer and null fields of a flat JSON
    * object, strings unescaped. */
  private[graft] def jsonFields(body: String): Map[String, Option[String]] =
    """"(\w+)":(?:"((?:[^"\\]|\\.)*)"|(\d+)|null)""".r.findAllMatchIn(body).map { m =>
      m.group(1) -> Option(m.group(2)).map(jsonUnescape).orElse(Option(m.group(3)))
    }.toMap

  /** The shared staged-swap protocol, under `path`'s writer lock (taken
    * here, or re-entered when the caller holds it): clear staging/backup,
    * let `write` produce the staging dir, then current -> backup,
    * staging -> current, drop backup — rolling back the first rename if
    * the promotion fails. Readers during the window see the old or new
    * table, never a mix. Returns false without swapping when `write`
    * reports a no-op. */
  private[graft] def stagedSwap(spark: SparkSession, path: String)
                                (write: Path => Boolean): Boolean = withTableLock(spark, path) {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(path + ".cow_staging")
    val backup = new Path(path + ".cow_backup")
    fs.delete(staging, true)
    fs.delete(backup, true)
    if (!write(staging)) { fs.delete(staging, true); false }
    else {
      if (!fs.rename(new Path(path), backup))
        throw new java.io.IOException(s"COW swap failed: cannot move $path aside")
      if (!fs.rename(staging, new Path(path))) {
        fs.rename(backup, new Path(path)) // roll back
        throw new java.io.IOException(s"COW swap failed: cannot promote staging for $path")
      }
      fs.delete(backup, true)
      true
    }
  }

  /** UPDATE path SET assignments WHERE cond. Returns affected rows.
    * SQL simultaneous-assignment semantics: every assignment (and the
    * condition) is evaluated against the ORIGINAL row, in one
    * projection — a withColumn chain would let later assignments see
    * earlier ones' results and re-resolve cond against updated values. */
  def update(spark: SparkSession, path: String,
             cond: Column, assignments: Map[String, Column]): Long = {
    graft.security.AccessPolicies.check(spark, path, "UPDATE")
    rewrite(spark, path, cond)(simultaneousUpdate(_, cond, assignments))
  }

  private[acid] def simultaneousUpdate(base: DataFrame, cond: Column,
                                       assignments: Map[String, Column]): DataFrame = {
    val unknown = assignments.keySet -- base.columns.toSet
    require(unknown.isEmpty, s"UPDATE of non-existent columns: $unknown")
    base.select(base.columns.toIndexedSeq.map { c =>
      assignments.get(c)
        .map(v => when(cond, v).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*)
  }

  /** DELETE FROM path WHERE cond. Returns deleted-row count. */
  def delete(spark: SparkSession, path: String, cond: Column): Long = {
    graft.security.AccessPolicies.check(spark, path, "DELETE")
    rewrite(spark, path, cond)(_.filter(!coalesce(cond, lit(false))))
  }

  /** MERGE INTO (upsert), copy-on-write: rows of the target matching a
    * source row on `keys` are REPLACED by the source row; unmatched
    * source rows are INSERTED; unmatched target rows pass through.
    * This is the `WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
    * INSERT *` core of the MERGE statement (added to the reference line
    * in Hive 2.2 on the same UpdateDeleteSemanticAnalyzer rewrite
    * machinery; provided here as the engine's upsert surface). One
    * anti-join + union + atomic swap; source and target must share the
    * target's schema. Returns (updated, inserted) counts.
    *
    * Like SQL MERGE, the contract assumes `keys` uniquely identify rows
    * on BOTH sides (SQL raises a cardinality violation otherwise; this
    * rewrite does not scan for duplicates — with duplicate keys every
    * matching target row is replaced and every source copy lands, and
    * the returned counts reflect that row arithmetic). */
  def merge(spark: SparkSession, path: String, source: DataFrame,
            keys: Seq[String]): (Long, Long) = withTableLock(spark, path) {
    // SQLStd MERGE privilege set: writes updates AND inserts
    graft.security.AccessPolicies.check(spark, path, "UPDATE")
    graft.security.AccessPolicies.check(spark, path, "INSERT")
    require(keys.nonEmpty, "merge needs at least one key column")
    // read INSIDE the lock: a serialized writer must see its
    // predecessor's files, not the listing from before it waited
    val target = spark.read.parquet(path)
    val cols = target.columns.toIndexedSeq
    require(cols.forall(source.columns.contains),
      s"source is missing target columns: ${cols.filterNot(source.columns.contains)}")
    val src = source.select(cols.map(col): _*)
    // three chained observations give all counts in the ONE staging-write
    // pass: target rows, surviving (unmatched) target rows, output rows
    val obsT = Observation(); val obsKeep = Observation(); val obsU = Observation()
    val keep = target.observe(obsT, count(lit(1)).as("n"))
      .join(src.select(keys.map(col): _*), keys, "left_anti")
      .observe(obsKeep, count(lit(1)).as("kept"))
    stagedSwap(spark, path) { staging =>
      keep.unionAll(src).observe(obsU, count(lit(1)).as("out"))
        .write.mode("overwrite").parquet(staging.toString)
      true
    }
    val targetRows = obsT.get("n").asInstanceOf[Long]
    val kept = obsKeep.get("kept").asInstanceOf[Long]
    val outRows = obsU.get("out").asInstanceOf[Long]
    (targetRows - kept, outRows - targetRows)
  }

  /** Small-file compaction — the reference's compactor
    * (ql/src/java/org/apache/hadoop/hive/ql/txn/compactor/Worker.java,
    * Initiator.java decide-and-rewrite loop) re-expressed for a COW
    * table: rewrite the directory into ~`targetFileBytes`-sized files
    * when the current layout is materially worse (more than 2x the ideal
    * file count). Small files are THE silent 100 TB scan killer (per-file
    * open/footer costs dominate under ~16 MB). Returns
    * (filesBefore, filesAfter); no-op when already compact. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
      withTableLock(spark, path) {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(path))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val nFiles = parts.length
    val totalBytes = parts.map(_.getLen).sum
    val ideal = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    if (nFiles <= 2 * ideal) (nFiles, nFiles)
    else {
      val start = System.currentTimeMillis()
      stagedSwap(spark, path) { staging =>
        // coalesce, not repartition: compaction must not shuffle the data,
        // only concatenate scan splits into fewer writers
        spark.read.parquet(path).coalesce(ideal)
          .write.mode("overwrite").parquet(staging.toString)
        true
      }
      val after = fs.listStatus(new Path(path))
        .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
      CompactionHistory.record(spark, new Path(path).getName, None,
        "MINOR", "succeeded", start)
      (nFiles, after)
    }
  }

  /** Rewrite the table in ONE pass: the affected-row count is observed on
    * the scan while the staging copy is written (the pre-fix version paid
    * an extra full read for filter(cond).count() before every rewrite).
    * A no-op rewrite discards the staging dir and leaves the table's
    * files untouched. */
  private def rewrite(spark: SparkSession, path: String, cond: Column)
                     (f: DataFrame => DataFrame): Long = withTableLock(spark, path) {
    val obs = Observation()
    // read INSIDE the lock (see merge): serialized updates compose
    val base = spark.read.parquet(path)
      .observe(obs, sum(when(cond, 1L).otherwise(0L)).as("affected"))
    val out = f(base)

    var affected = 0L
    stagedSwap(spark, path) { staging =>
      out.write.mode("overwrite").parquet(staging.toString)
      affected = obs.get("affected") match {
        case null => 0L
        case n: java.lang.Number => n.longValue()
      }
      affected != 0L // no-op rewrite: discard staging, keep the table
    }
    affected
  }
}
