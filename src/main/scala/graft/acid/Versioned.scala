package graft.acid

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned snapshot tables: multi-version copy-on-write with reader
  * snapshot isolation and time travel.
  *
  * The reference's ACID tables get this from delta directories named by
  * transaction id plus a metastore that hands readers a valid-txn list
  * (ql/src/java/org/apache/hadoop/hive/ql/io/AcidUtils.java:56-68 — base
  * + delta_<txnid> layout; lockmgr/DbTxnManager.java issues the ids).
  * [[CopyOnWrite]] covers single-writer rewrites but has two documented
  * gaps: a reader that lists files during the swap's rename window finds
  * no table at all, and an overwritten snapshot is gone — no
  * reproducibility. This module closes both with the commit-marker
  * design modern lakehouse formats use, reduced to its minimum:
  *
  * {{{
  *   table/                       (basePath)
  *     _versions/v00000001/  ...parquet files... + _committed
  *     _versions/v00000002/  ...parquet files... + _committed
  * }}}
  *
  *  - A writer (serialized by the table lock every writer takes,
  *    [[CopyOnWrite.withTableLock]] on `basePath`) writes version N+1's
  *    files into a new directory, then creates the empty `_committed`
  *    marker LAST.
  *    Marker creation is the one atomic commit point (single
  *    create-file op on HDFS/local alike — no rename of the data dir).
  *  - A reader resolves "current" = the highest version directory whose
  *    marker exists. A half-written version is invisible (no marker); a
  *    concurrent commit is either fully visible or not at all. Once a
  *    reader resolves a version it keeps reading THAT directory — later
  *    commits never mutate it — which is snapshot isolation for the
  *    whole query regardless of how long it runs.
  *  - Old versions stay until [[vacuum]], giving `asOf` time travel — the
  *    reproducibility primitive a training pipeline needs to re-read the
  *    exact corpus snapshot a model was trained on.
  *
  * Scale notes: resolving a version is one directory listing of version
  * names (metadata-scale, not data-scale); data files are never listed
  * across versions. DML is O(table) copy-on-write exactly like
  * [[CopyOnWrite]] — at 100 TB you partition and version per partition,
  * or adopt a full lakehouse format; this module is the engine-level
  * contract those formats implement. Vacuum never touches the live
  * version, so it is safe to run concurrently with readers of the
  * current snapshot (only readers pinned to vacuumed history break, the
  * same contract as every lakehouse retention policy).
  */
object Versioned {

  private val VersionsDir = "_versions"
  private val Marker = "_committed"
  private val Pad = 8

  private def fs(spark: SparkSession, base: String): FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionPath(base: String, v: Int): Path =
    new Path(s"$base/$VersionsDir/v${("%0" + Pad + "d").format(v)}")

  /** Whether `base` is a versioned table (has a version history dir) —
    * the warehouse-scan probe the auto-compactor uses; one metadata
    * existence check, no data read. */
  def isVersionedTable(spark: SparkSession, base: String): Boolean =
    fs(spark, base).exists(new Path(s"$base/$VersionsDir"))

  /** Committed version numbers, ascending (metadata listing only). */
  def versions(spark: SparkSession, base: String): Seq[Int] = {
    val f = fs(spark, base)
    val dir = new Path(s"$base/$VersionsDir")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+") &&
        f.exists(new Path(s.getPath, Marker)))
      .map(_.getPath.getName.drop(1).toInt)
      .sorted
  }

  /** Latest committed version, if any. */
  def currentVersion(spark: SparkSession, base: String): Option[Int] =
    versions(spark, base).lastOption

  /** Read a snapshot: the latest committed version, or `asOf` for time
    * travel. The returned DataFrame is pinned to that snapshot's
    * directories — concurrent commits never change what it reads. When
    * the snapshot head is a DELTA version, this transparently merges
    * (the keys come from the delta's own sidecar), so `read` always
    * returns the table, never a delta fragment. */
  def read(spark: SparkSession, base: String, asOf: Option[Int] = None): DataFrame = {
    val vs = versions(spark, base)
    require(vs.nonEmpty, s"no committed versions under $base/$VersionsDir")
    val v = asOf match {
      case Some(n) =>
        require(vs.contains(n), s"version $n not committed (have ${vs.mkString(",")})")
        n
      case None => vs.last
    }
    if (fs(spark, base).exists(new Path(versionPath(base, v), DeltaMarker)))
      readMerged(spark, base,
        deltaKeysOf(spark, base).getOrElse(sys.error(
          s"version $v is a delta but no key sidecar found")), Some(v))
    else spark.read.parquet(versionPath(base, v).toString)
  }

  /** The version directory of `v` iff it is a committed FULL snapshot
    * (not a delta) — the precondition for file-level copies (replication
    * bootstrap): a delta head is only meaningful merged, so callers must
    * fall back to the compute path. */
  def fullSnapshotDir(spark: SparkSession, base: String, v: Int): Option[Path] = {
    val f = fs(spark, base)
    val dir = versionPath(base, v)
    if (versions(spark, base).contains(v) && !f.exists(new Path(dir, DeltaMarker)))
      Some(dir)
    else None
  }

  /** Commit an already-encoded parquet snapshot by FILE COPY (the
    * reference's IMPORT path — FileUtils-level data movement, no
    * decode/re-encode of every row): copies `srcDir`'s data files into
    * the next version directory under the usual lock + marker protocol.
    * Caller guarantees the files are a complete, committed snapshot
    * (e.g. a replication bootstrap dump). */
  def commitFiles(spark: SparkSession, base: String, srcDir: Path): Int = {
    graft.security.AccessPolicies.check(spark, base, "INSERT")
    CopyOnWrite.withTableLock(spark, base) {
      commitVersion(spark, base) { dir =>
        fs(spark, base).mkdirs(dir)
        copyDataFiles(spark, srcDir, dir)
      }
    }
  }

  /** Copy the parquet data files of `from` into `to` (markers/sidecars
    * and _SUCCESS excluded). */
  def copyDataFiles(spark: SparkSession, from: Path, to: Path): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = from.getFileSystem(conf)
    val dstFs = to.getFileSystem(conf)
    srcFs.listStatus(from).filter { st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")
    }.foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(
        srcFs, st.getPath, dstFs, new Path(to, st.getPath.getName),
        false, true, conf)
    }
  }

  /** Commit `df` as the next version and return its number. The data is
    * fully written before the marker lands, so readers never see a
    * partial snapshot. Serialized against every other writer of `base`
    * by the table lock ([[CopyOnWrite.withTableLock]]: the sidecar lock,
    * or the shared [[TxnManager]] queue when `graft.txn.dir` is set), so
    * two writers cannot claim the same version. */
  def commit(spark: SparkSession, base: String, df: DataFrame): Int = {
    graft.security.AccessPolicies.check(spark, base, "INSERT")
    CopyOnWrite.withTableLock(spark, base)(commitDf(spark, base, df))
  }

  /** UPDATE ... SET assignments WHERE cond as a new version (SQL
    * simultaneous-assignment semantics — one projection over the
    * original rows, see CopyOnWrite.simultaneousUpdate). Returns the
    * new version number (the previous snapshot stays readable). */
  def update(spark: SparkSession, base: String,
             cond: Column, assignments: Map[String, Column]): Int = {
    graft.security.AccessPolicies.check(spark, base, "UPDATE")
    CopyOnWrite.withTableLock(spark, base) {
      commitDf(spark, base,
        CopyOnWrite.simultaneousUpdate(read(spark, base), cond, assignments))
    }
  }

  /** DELETE FROM ... WHERE cond as a new version. */
  def delete(spark: SparkSession, base: String, cond: Column): Int = {
    graft.security.AccessPolicies.check(spark, base, "DELETE")
    CopyOnWrite.withTableLock(spark, base) {
      commitDf(spark, base,
        read(spark, base).filter(!coalesce(cond, lit(false))))
    }
  }

  /** Drop committed versions older than `keep` latest — clamped so that
    * every RETAINED version's snapshot stays fully readable: a delta is
    * only meaningful with its base full version and the deltas between
    * them, so deletion stops strictly below the base of the OLDEST
    * retained version (same rule as lakehouse vacuum vs checkpoint).
    * Dropped history disappears as whole base+delta lineages, never
    * leaving an orphaned delta. Returns the removed version numbers. */
  def vacuum(spark: SparkSession, base: String, keep: Int = 1): Seq[Int] =
    CopyOnWrite.withTableLock(spark, base) {
      require(keep >= 1, "must keep at least the current version")
      val f = fs(spark, base)
      val vs = versions(spark, base)
      val oldestKept = vs.takeRight(keep).head
      val fulls = vs.filterNot(v =>
        f.exists(new Path(versionPath(base, v), DeltaMarker)))
      val baseOfOldestKept = fulls.filter(_ <= oldestKept).last
      val old = vs.filter(_ < baseOfOldestKept)
      if (old.nonEmpty) {
        val start = System.currentTimeMillis()
        old.foreach(v => f.delete(versionPath(base, v), true))
        CompactionHistory.record(spark, new Path(base).getName, None,
          "CLEANER", "succeeded", start)
      }
      old
    }

  // ---------------------------------------------------------------------
  // Merge-on-read deltas — the reference's delta_<txnid> files +
  // OrcRawRecordMerger read path (AcidUtils.java:56-68,
  // ql/src/java/org/apache/hadoop/hive/ql/io/orc/OrcRawRecordMerger.java:
  // newest-transaction-wins merge of base + sorted deltas), re-expressed
  // as a window over (key, version). A delta version stores ONLY the
  // changed rows plus an _op lane ("upsert" | "delete"), so a 100-row
  // update of a 100 TB table writes 100 rows, not the table; readers pay
  // one shuffle-by-key merge until [[compactDeltas]] folds the deltas
  // into a fresh full base. Delta versions are marked by an extra
  // `_delta` sidecar next to `_committed`, holding the key columns.
  // ---------------------------------------------------------------------

  private val DeltaMarker = "_delta"
  private val OpCol = "_op"

  /** Change-data feed between two committed snapshots — the CDC diff a
    * downstream incremental consumer reads instead of re-scanning the
    * table (the lakehouse "change data feed" idea; the reference's
    * closest surface is streaming ingest's per-transaction deltas,
    * hcatalog/streaming TransactionBatch). Emits the standard four-lane
    * format: `insert` / `delete` rows plus `update_preimage` /
    * `update_postimage` pairs for keys present in both snapshots whose
    * non-key attributes differ (null-safely). One full-outer join of
    * the two snapshots on the business key — both legs of the update
    * pair project from the same joined exchange. At scale the from-
    * snapshot is usually yesterday's — the join is the cost of ONE
    * key-shuffle of two snapshots, bounded by table size, and with
    * delta versions ([[commitDelta]]) the to-side is already just the
    * changed rows. */
  def diff(spark: SparkSession, base: String, fromV: Int, toV: Int,
           keys: Seq[String]): DataFrame = {
    val from = read(spark, base, Some(fromV))
    val to = read(spark, base, Some(toV))
    require(from.columns.toSeq == to.columns.toSeq,
      s"snapshot schemas differ: ${from.columns.mkString(",")} vs ${to.columns.mkString(",")}")
    val cols = from.columns.toIndexedSeq
    val attrs = cols.filterNot(keys.contains)
    // presence markers + null-safe key equality: a NULL business key is
    // a (single) legitimate key value, not an absent row — key-column
    // isNotNull probes would silently drop its changes from every lane
    val f = from.select(cols.map(c => col(c).as(s"__f_$c")) :+ lit(true).as("__f_in"): _*)
    val t = to.select(cols.map(c => col(c).as(s"__t_$c")) :+ lit(true).as("__t_in"): _*)
    val j = f.join(t, keys.map(k => col(s"__f_$k") <=> col(s"__t_$k")).reduce(_ && _),
                   "full_outer")
    val inFrom = col("__f_in").isNotNull
    val inTo = col("__t_in").isNotNull
    // a key-only table is a legitimate CDC input (insert/delete lanes only)
    val changed = attrs.map(a => !(col(s"__f_$a") <=> col(s"__t_$a")))
      .reduceOption(_ || _).getOrElse(lit(false))
    // ONE pass over the joined rows: the lane-per-filter spelling ran
    // the full-outer join once per lane (4x — the scan/shuffle of both
    // snapshots quadrupled); explode of a per-row lane array keeps the
    // exact same rows out of a single join execution. Unchanged matched
    // rows emit an empty array and vanish.
    def row(tpe: String, prefix: String) =
      struct(lit(tpe).as("_change_type") +:
        cols.map(c => col(s"$prefix$c").as(c)): _*)
    val lanes =
      when(!inFrom && inTo, array(row("insert", "__t_")))
        .when(inFrom && !inTo, array(row("delete", "__f_")))
        .otherwise(array(row("update_preimage", "__f_"),
                         row("update_postimage", "__t_")))
    j.where(!inFrom || !inTo || changed) // unchanged matches emit nothing
      .select(explode(lanes).as("r")).select(col("r.*"))
  }

  /** Consumer side of the change feed: apply a [[diff]]-format change
    * set to a snapshot — drop deleted/replaced keys, append inserts and
    * post-images. The contract is the exact round trip
    * `applyDiff(read(v1), diff(v1, v2)) == read(v2)` (pinned in
    * VersionedSpec), which is what lets a downstream table follow an
    * upstream one by shipping only changes — O(changes) transfer per
    * sync instead of O(table). */
  def applyDiff(snapshot: DataFrame, changes: DataFrame, keys: Seq[String]): DataFrame = {
    val gone = changes
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .select(keys.map(k => col(k).as(s"__g_$k")): _*)
    val arrived = changes
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
    // null-safe anti-join: diff() treats a NULL business key as a single
    // legitimate key value (<=> join), so the apply side must match — a
    // plain key anti-join would never drop a NULL-key delete/pre-image
    // and the round trip applyDiff(read(v1), diff(v1,v2)) == read(v2)
    // would break exactly on those rows
    snapshot.join(gone,
        keys.map(k => snapshot(k) <=> col(s"__g_$k")).reduce(_ && _), "left_anti")
      .unionByName(arrived)
  }

  private val TagFile = "_tag"

  /** Tags of committed versions, for idempotent replay (newest first). */
  def committedTags(spark: SparkSession, base: String): Map[String, Int] = {
    val f = fs(spark, base)
    versions(spark, base).flatMap { v =>
      val p = new Path(versionPath(base, v), TagFile)
      if (!f.exists(p)) None else Some(CopyOnWrite.readSmall(f, p).trim -> v)
    }.toMap
  }

  /** Commit a DELTA version: `upserts` rows replace same-key rows (or
    * insert), `deletes` rows remove them. Both must carry the key
    * columns; `upserts` must carry the full row schema. O(changes), not
    * O(table). Keys must be unique within one delta (the SQL MERGE
    * cardinality contract — duplicate keys in a single delta merge in
    * arbitrary order). Returns the new version number.
    *
    * `tag` makes the commit IDEMPOTENT: if a committed version already
    * carries the tag, that version is returned and nothing is written.
    * This is the streaming-ingest handshake (the reference's
    * TransactionBatch commit, hcatalog/streaming/.../TransactionBatch
    * .java, where a replayed batch re-commits as a no-op): in
    * foreachBatch, pass `tag = s"batch-$batchId"` and a restarted query
    * replaying the last micro-batch cannot double-apply it. */
  def commitDelta(spark: SparkSession, base: String, keys: Seq[String],
                  upserts: DataFrame, deletes: Option[DataFrame] = None,
                  tag: Option[String] = None): Int = {
    // SQLStd statement-shape privilege mapping, same as CopyOnWrite
    // .merge: upserts CAN overwrite same-key rows (that is their
    // definition), so the lane needs INSERT + UPDATE; a deletes frame
    // removes rows from the merged state, so passing one — empty or not,
    // the check is on the statement shape like the reference's
    // validator, never a data-dependent job — needs DELETE. Without
    // this, an INSERT-only principal could delete through the delta
    // lane around the DELETE check that Versioned.delete enforces.
    graft.security.AccessPolicies.check(spark, base, "INSERT")
    graft.security.AccessPolicies.check(spark, base, "UPDATE")
    if (deletes.isDefined) graft.security.AccessPolicies.check(spark, base, "DELETE")
    CopyOnWrite.withTableLock(spark, base) {
      require(keys.nonEmpty, "delta commit needs key columns")
      // a replayed batch is already applied: its version, no write. Lazy:
      // untagged commits (the common batch path) skip the tag-file scan
      tag.flatMap(t => committedTags(spark, base).get(t)).getOrElse {
        val cur = requireVersions(spark, base)
        val curKeys = deltaKeysOf(spark, base)
        require(curKeys.forall(_ == keys),
          s"delta key mismatch: table uses ${curKeys.get}, got $keys")
        val cols = spark.read.parquet(versionPath(base, cur.last).toString)
          .columns.filterNot(_ == OpCol).toIndexedSeq
        require(cols.forall(upserts.columns.contains),
          s"upserts missing columns: ${cols.filterNot(upserts.columns.contains)}")
        val up = upserts.select(cols.map(col): _*).withColumn(OpCol, lit("upsert"))
        val del = deletes.map { d =>
          require(keys.forall(d.columns.contains), "deletes must carry the key columns")
          // null-pad non-key columns: only the key matters for a delete
          d.select(keys.map(col) ++
            cols.filterNot(keys.contains).map(c =>
              lit(null).cast(up.schema(c).dataType).as(c)): _*)
            .select(cols.map(col): _*).withColumn(OpCol, lit("delete"))
        }
        val delta = del.map(up.unionAll).getOrElse(up)
        tag.foreach(t => require(!t.contains("\n"), "tag must be single-line"))
        val f = fs(spark, base)
        commitVersion(spark, base) { dir =>
          delta.write.parquet(dir.toString)
          CopyOnWrite.publish(f, new Path(dir, DeltaMarker), keys.mkString(","))
          tag.foreach(t => CopyOnWrite.publish(f, new Path(dir, TagFile), t))
        }
      }
    }
  }

  /** Snapshot read with merge-on-read: newest version wins per key across
    * the base full version and every later delta. One window over
    * (key, version desc) — the Spark-native spelling of the reference's
    * record-merger heap. Falls back to a plain scan when the snapshot has
    * no deltas (zero merge cost after compaction). */
  def readMerged(spark: SparkSession, base: String, keys: Seq[String],
                 asOf: Option[Int] = None): DataFrame = {
    val vs = versions(spark, base)
    require(vs.nonEmpty, s"no committed versions under $base/$VersionsDir")
    val upTo = asOf.map(n => { require(vs.contains(n), s"version $n not committed"); n })
      .getOrElse(vs.last)
    val f = fs(spark, base)
    val inWindow = vs.filter(_ <= upTo)
    // the base of the snapshot = newest FULL version <= upTo
    val baseV = inWindow.filterNot(v =>
      f.exists(new Path(versionPath(base, v), DeltaMarker))).last
    val deltas = inWindow.filter(v => v > baseV)
    val baseDf = spark.read.parquet(versionPath(base, baseV).toString)
    if (deltas.isEmpty) baseDf
    else {
      val cols = baseDf.columns.toIndexedSeq
      val all = (baseDf.withColumn(OpCol, lit("upsert")).withColumn("_v", lit(baseV)) +:
        deltas.map(v => spark.read.parquet(versionPath(base, v).toString)
          .withColumn("_v", lit(v))))
        .reduce(_.unionByName(_)) // by name: delta files carry _op already
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(col("_v").desc)
      all.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && col(OpCol) =!= "delete")
        .select(cols.map(col): _*)
    }
  }

  /** Fold every delta at the head of the table into a fresh full
    * version (the reference's major compaction, txn/compactor/
    * Worker.java): after this, [[readMerged]] is a plain scan again.
    * No-op (returns current version) when there is nothing to fold. */
  def compactDeltas(spark: SparkSession, base: String, keys: Seq[String]): Int =
    CopyOnWrite.withTableLock(spark, base) {
      val f = fs(spark, base)
      val vs = requireVersions(spark, base)
      val hasDeltas = f.exists(new Path(versionPath(base, vs.last), DeltaMarker))
      if (!hasDeltas) vs.last
      else {
        val start = System.currentTimeMillis()
        val v = commitDf(spark, base, readMerged(spark, base, keys))
        CompactionHistory.record(spark, new Path(base).getName, None,
          "MAJOR", "succeeded", start)
        v
      }
    }

  /** Maintenance outcome: how many deltas sat at the head, whether they
    * were folded, and which versions retention dropped. */
  final case class Maintenance(headDeltas: Int, compacted: Boolean, vacuumed: Seq[Int])

  /** Automatic compaction + retention policy — the reference's background
    * Initiator (txn/compactor/Initiator.java:58 inspects each table's
    * delta count against `hive.compactor.delta.num.threshold` and queues
    * a compaction when it crosses), re-expressed as an explicitly
    * schedulable step: call it from a scheduler or a streaming
    * `foreachBatch` hook after commits; each call is cheap (a version
    * listing) until a threshold trips.
    *
    * When the deltas at the HEAD of the table (since the newest full
    * base) reach `maxDeltas`, they fold into a fresh full version
    * (major compaction; key columns come from the delta sidecar, so no
    * caller plumbing). Afterwards, history beyond `retainVersions` is
    * vacuumed under the usual lineage-safe rule. Both steps no-op below
    * threshold, so calling after every commit is safe and idempotent. */
  def maintain(spark: SparkSession, base: String, maxDeltas: Int = 10,
               retainVersions: Int = Int.MaxValue): Maintenance = {
    require(maxDeltas >= 1, s"maxDeltas >= 1, got $maxDeltas")
    require(retainVersions >= 1, s"retainVersions >= 1, got $retainVersions")
    // cheap unlocked probe first: the compaction daemon calls this on
    // EVERY warehouse table each pass, and an under-threshold table must
    // cost ONE listing, not a lock-service round trip
    val probe = headDeltaCount(spark, base)
    if (probe < maxDeltas && retainVersions == Int.MaxValue)
      return Maintenance(probe, compacted = false, Nil)
    // mutating pass: serialize through the SAME lock service every other
    // writer uses (TxnManager exclusive lock when `graft.txn.dir` is set,
    // the sidecar lock otherwise) — a daemon compaction and a replica
    // load on one table under two managers must queue, never interleave
    // (the reference's Worker takes a TxnHandler lock for the same
    // reason). State is re-derived UNDER the lock: the probe is advisory.
    CopyOnWrite.withTableLock(spark, base) {
      val headDeltas = headDeltaCount(spark, base)
      val compacted = headDeltas >= maxDeltas
      if (compacted) {
        val keys = deltaKeysOf(spark, base).getOrElse(
          throw new IllegalStateException(s"head deltas without a key sidecar under $base"))
        compactDeltas(spark, base, keys)
      }
      val vacuumed =
        if (retainVersions == Int.MaxValue) Nil
        else vacuum(spark, base, retainVersions)
      Maintenance(headDeltas, compacted, vacuumed)
    }
  }

  private def headDeltaCount(spark: SparkSession, base: String): Int = {
    val f = fs(spark, base)
    requireVersions(spark, base).reverse
      .takeWhile(v => f.exists(new Path(versionPath(base, v), DeltaMarker))).size
  }

  private def requireVersions(spark: SparkSession, base: String): Seq[Int] = {
    val vs = versions(spark, base)
    require(vs.nonEmpty, s"no committed versions under $base/$VersionsDir")
    vs
  }

  private def deltaKeysOf(spark: SparkSession, base: String): Option[Seq[String]] = {
    val f = fs(spark, base)
    versions(spark, base).reverse.iterator
      .map(v => new Path(versionPath(base, v), DeltaMarker))
      .find(f.exists)
      .map(p => CopyOnWrite.readSmall(f, p).trim.split(",").toSeq)
  }

  /** The version-commit skeleton every writer shares; the caller holds
    * the table lock and has made its own access checks. Claims the next
    * id, clears a crashed writer's leftover dir, lets `write` fill it,
    * then creates the empty `_committed` marker LAST — THE commit
    * point. Returns the committed version. */
  private def commitVersion(spark: SparkSession, base: String)(write: Path => Unit): Int = {
    val f = fs(spark, base)
    val next = currentVersion(spark, base).getOrElse(0) + 1
    val dir = versionPath(base, next)
    f.delete(dir, true)
    write(dir)
    f.create(new Path(dir, Marker), false).close()
    next
  }

  private def commitDf(spark: SparkSession, base: String, df: DataFrame): Int =
    commitVersion(spark, base)(dir => df.write.parquet(dir.toString))
}
