package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Key-addressed segment store — the storage half of the reference's
  * external-storage-handler contract (hbase-handler/src/java/org/apache/
  * hadoop/hive/hbase/HBaseStorageHandler.java:90: a Hive table whose rows
  * live in a row-key-sorted external store, where the handler's
  * `decomposePredicate` turns row-key predicates into a narrowed store
  * scan instead of a full sweep). The store half here is deliberately
  * minimal — sorted row-segments with key ranges, HBase's region model in
  * one directory — because the POINT is the engine half ([[KvSource]]):
  * graft's DataSource V2 connector binds this store into Spark with
  * column pruning and key-predicate pushdown, exactly the seam a real
  * deployment uses to bind HBase/Cassandra/Bigtable through their
  * published connectors.
  *
  * Layout:
  * {{{
  *   dir/_kv_meta          # text: version, key column, schema DDL, segment lines
  *   dir/seg-00007-<uuid>  # rows sorted by key, binary-encoded
  * }}}
  *
  * The writer range-partitions on the key, so segments are
  * non-overlapping and ordered — a key-range query touches only the
  * segments whose [min, max] intersects it (HBase region pruning), and a
  * reader inside one segment can STOP at the first key past the range's
  * upper bound (the region scan's stop-row).
  *
  * Scale: segments are independent write tasks and independent read
  * splits; the meta file is one line per segment (~10^5 lines for a
  * 100 TB store at 1 GB segments — client-metadata scale, the same
  * cardinality as HBase's region directory). Keys are BIGINT or STRING
  * (the rowkey analog); string ranges compare as unsigned UTF-8 bytes,
  * which is exactly Spark's UTF8String binary order, so the writer's
  * range partitioner and the reader's pruning can never disagree.
  */
object KvStore {

  private[sources] val Magic = "GKV1"
  private[graft] val MetaFile = "_kv_meta" // Compactor detects stores by it
  private val SegMetaDir = "_segs"

  final case class Segment(file: String, rows: Long, minKey: Any, maxKey: Any)
  final case class Meta(keyCol: String, schema: StructType, segments: Seq[Segment]) {
    def keyIndex: Int = schema.fieldIndex(keyCol)
    def keyIsString: Boolean = schema(keyCol).dataType == StringType
  }

  private[sources] val SupportedTypes: Set[DataType] =
    Set(LongType, IntegerType, DoubleType, BooleanType, StringType,
        DateType, TimestampNTZType, TimestampType)

  /** Unsigned-UTF-8-byte comparison for string keys == UTF8String's
    * binary order == the order Spark's range partitioner sorted by. */
  private[sources] def compareKeys(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))
    case _ => throw new IllegalStateException(s"unordered key pair: $a / $b")
  }

  /** Executor-shippable Hadoop configuration (the session's, not an
    * empty default — s3a keys, fs.defaultFS, security settings must
    * reach the tasks that open segment files). Spark's own
    * SerializableConfiguration is private[spark], so this is the same
    * three-line wrapper every connector writes. */
  private[sources] final class SerConf(@transient var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Write `df` as a KV store keyed on `keyCol`, in `numSegments`
    * non-overlapping sorted segments. One range shuffle (the same cost
    * any sorted-store bulk load pays — HBase bulk loads through an
    * identical total-order partitioning in HFileOutputFormat), then each
    * partition streams to its segment file with no driver involvement;
    * the driver writes the one-line-per-segment meta file LAST, which is
    * the commit point (a crashed write leaves no meta and reads fail
    * loudly rather than seeing half a store).
    *
    * DML governance: replacing a store is an INSERT that destroys the
    * previous contents, so a protected dir demands INSERT + DELETE
    * (the SQLStd INSERT OVERWRITE mapping, same chokepoint style as
    * CopyOnWrite/Versioned). Replacing an EXISTING store goes through
    * CopyOnWrite's staged swap — a concurrent reader sees the old or the
    * new store, never a half-deleted one, and a crashed write cannot
    * destroy the committed store.
    *
    * Task idempotence: segment/sidecar names are DETERMINISTIC in the
    * partition id and each task stages to an attempt-unique temp file
    * renamed into place on success — a retried task replaces its own
    * output instead of duplicating it, and the meta merge can never see
    * two files for one partition. */
  def write(spark: SparkSession, df: DataFrame, dir: String, keyCol: String,
            numSegments: Int): Unit = {
    val schema = df.schema
    require(schema.fieldNames.contains(keyCol), s"no key column $keyCol in ${schema.simpleString}")
    val keyType = schema(keyCol).dataType
    require(keyType == LongType || keyType == StringType,
      s"key must be BIGINT or STRING (the rowkey analog), got ${keyType.simpleString}")
    val unsupported = schema.fields.filterNot(f => SupportedTypes(f.dataType))
    require(unsupported.isEmpty,
      s"unsupported column types: ${unsupported.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
    require(numSegments > 0, "numSegments must be positive")
    graft.security.AccessPolicies.check(spark, dir, "INSERT")
    graft.security.AccessPolicies.check(spark, dir, "DELETE")

    // writer lock, same service as every other writer: two unserialized
    // overwrites would collide on the shared .cow_staging path
    graft.acid.CopyOnWrite.withTableLock(spark, dir) {
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) writeInto(spark, df, root.toString, keyCol, numSegments)
      else {
        graft.acid.CopyOnWrite.stagedSwap(spark, dir) { staging =>
          writeInto(spark, df, staging.toString, keyCol, numSegments); true
        }
        ()
      }
    }
  }

  /** Compact a store that has accumulated appended (possibly
    * key-overlapping) segments back into `numSegments` non-overlapping
    * sorted ones — HBase's major compaction: point lookups after many
    * appends touch one segment again instead of one per append batch.
    * Goes through the same staged swap as a full rewrite, so concurrent
    * readers see the old or the new layout, never a mix, and the same
    * governance chokepoints fire (a compaction rewrites everything:
    * INSERT + DELETE, the INSERT OVERWRITE mapping). The store is read
    * INSIDE the writer lock: the scan captures the segment list when it
    * is loaded, so a read taken before the lock would drop every append
    * that committed while this compaction waited. */
  def compact(spark: SparkSession, dir: String, numSegments: Int): Unit =
    graft.acid.CopyOnWrite.withTableLock(spark, dir) {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val meta = readMeta(fs, dir)
      write(spark, spark.read.format("graftkv").load(dir), dir, meta.keyCol, numSegments)
    }

  /** INSERT INTO an existing store (the HiveHBaseTableOutputFormat
    * direction — the handler's write half): new rows land as ADDITIONAL
    * sorted segments (their own range shuffle), and the meta gains their
    * lines. Appended segments may overlap existing ones in key range —
    * pruning stays sound (it is an [min,max]-intersection superset) and
    * each segment is still internally sorted, so stop-row/seek still
    * hold per segment; a key now simply may live in more than one
    * segment, exactly like a row key spread over multiple HBase HFiles
    * before compaction. The meta rewrite is the single commit point. */
  def append(spark: SparkSession, df: DataFrame, dir: String, numSegments: Int): Unit = {
    appendTagged(spark, df, dir, numSegments,
      java.util.UUID.randomUUID().toString.take(8))
    ()
  }

  /** Exactly-once append for streaming sinks (the reference's hcatalog
    * streaming TransactionBatch idea on the handler seam): the CALLER
    * names the batch — `foreachBatch { (df, id) => appendBatch(..., s"b$id") }`
    * — and a replayed batch whose tag already committed is a NO-OP
    * (returns false), so micro-batch re-delivery after a sink failure
    * cannot duplicate rows. The check and the meta commit sit under the
    * same writer lock, so a concurrent duplicate cannot slip between
    * them. */
  def appendBatch(spark: SparkSession, df: DataFrame, dir: String,
                  numSegments: Int, batchTag: String): Boolean = {
    require(batchTag.nonEmpty && batchTag.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"batch tag must be filename-safe ([A-Za-z0-9_-]): '$batchTag'")
    appendTagged(spark, df, dir, numSegments, batchTag)
  }

  private def appendTagged(spark: SparkSession, df: DataFrame, dir: String,
                           numSegments: Int, tag: String): Boolean = {
    require(numSegments > 0, "numSegments must be positive")
    graft.security.AccessPolicies.check(spark, dir, "INSERT")
    // writer lock (TxnManager when graft.txn.dir is set, sidecar lock
    // otherwise): two unserialized appends would each commit a meta that
    // omits the other's seg lines (rows silently orphaned), and both
    // share dir/_segs whose merge-then-delete would absorb or destroy
    // the competing batch's sidecars mid-flight
    graft.acid.CopyOnWrite.withTableLock(spark, dir) {
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val existing = readMeta(fs, dir)
      // replay fence: a tag whose segments are already committed means
      // this exact batch landed before (exactly-once for appendBatch;
      // UUID tags from append() never collide)
      if (existing.segments.exists(_.file.startsWith(s"seg-$tag-"))) false
      else {
        require(df.schema.map(f => (f.name, f.dataType)) ==
                existing.schema.map(f => (f.name, f.dataType)),
          s"graftkv append: schema mismatch — store has ${existing.schema.toDDL}, " +
            s"insert brings ${df.schema.toDDL}")
        // the batch tag keeps appended segment names collision-free vs
        // every earlier write (deterministic IN the batch for task-retry
        // idempotence); segments carry the STORE's canonical DDL (the
        // incoming frame may differ in nullability only — same wire
        // encoding — and a drifted header would trip the reader's
        // schema-drift guard)
        val newLines = writeSegments(spark, df, dir, existing.keyCol, numSegments, tag,
          existing.schema.toDDL)
        writeMeta(fs, dir, existing.keyCol, existing.schema.toDDL,
          existing.segments.map(segLine) ++ newLines)
        true
      }
    }
  }

  private def segLine(s: Segment): String =
    s"${s.file}\t${s.rows}\t${encKey(s.minKey)}\t${encKey(s.maxKey)}"

  private def writeInto(spark: SparkSession, df: DataFrame, dirStr: String,
                        keyCol: String, numSegments: Int): Unit = {
    val ddl = df.schema.toDDL
    val lines = writeSegments(spark, df, dirStr, keyCol, numSegments, tag = "", ddl)
    val fs = new Path(dirStr).getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeMeta(fs, dirStr, keyCol, ddl, lines)
  }

  /** Range-shuffle `df` on the key and stream each partition to one
    * sorted segment file; returns the meta lines (committed by the
    * caller's [[writeMeta]]). `tag` disambiguates append batches; `ddl`
    * is the header schema (the store's canonical one on append). */
  private def writeSegments(spark: SparkSession, df: DataFrame, dirStr: String,
                            keyCol: String, numSegments: Int, tag: String,
                            ddl: String): Seq[String] = {
    val schema = df.schema
    val fs = new Path(dirStr).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dirStr, SegMetaDir))
    val keyIdx = schema.fieldIndex(keyCol)
    val serConf = new SerConf(spark.sparkContext.hadoopConfiguration)
    // null keys are unaddressable in a key-ordered store (same contract
    // as an HBase rowkey); sorted ascending inside each range partition
    val sorted = df.filter(col(keyCol).isNotNull)
      .repartitionByRange(numSegments, col(keyCol))
      .sortWithinPartitions(col(keyCol))
    // InternalRow lane: the on-disk encoding IS the Catalyst internal
    // representation (micros, days, UTF8 bytes), so the read side builds
    // InternalRows with zero conversion
    sorted.queryExecution.toRdd.foreachPartition { rows =>
      if (rows.hasNext) {
        val tc = TaskContext.get()
        val pid = tc.partitionId()
        val f = new Path(dirStr).getFileSystem(serConf.conf)
        val name = if (tag.isEmpty) f"seg-$pid%05d" else f"seg-$tag-$pid%05d"
        // attempt-unique staging + rename: the task's commit point. A
        // rename over a competing attempt's identical deterministic
        // output is harmless (same bytes); a failed attempt leaves only
        // a .tmp the meta merge ignores.
        val tmp = new Path(s"$dirStr/$SegMetaDir/$name-attempt${tc.taskAttemptId()}.tmp")
        val out = new DataOutputStream(new java.io.BufferedOutputStream(
          f.create(tmp, true), 1 << 16))
        val fields = StructType.fromDDL(ddl).fields
        var n = 0L
        var minKey: Any = null
        var maxKey: Any = null
        out.writeUTF(Magic)
        out.writeInt(fields.length)
        out.writeUTF(ddl)
        while (rows.hasNext) {
          val r = rows.next()
          val k = keyOf(r, keyIdx, fields(keyIdx).dataType)
          if (minKey == null) minKey = k
          maxKey = k
          writeRow(out, r, fields)
          n += 1
        }
        out.close()
        val dest = new Path(s"$dirStr/$name")
        f.delete(dest, false) // clear a dead attempt's rename, if any
        require(f.rename(tmp, dest), s"cannot commit segment $dest")
        val sm = f.create(new Path(s"$dirStr/$SegMetaDir/$name.meta"), true)
        sm.write(s"$name\t$n\t${encKey(minKey)}\t${encKey(maxKey)}\n".getBytes(UTF_8))
        sm.close()
      }
    }
    // merge the per-segment sidecars (this batch's lines; the caller
    // commits them — together with any pre-existing lines — via writeMeta)
    val segLines = fs.listStatus(new Path(dirStr, SegMetaDir)).toSeq
      .filter(_.getPath.getName.endsWith(".meta"))
      .map(st => graft.acid.CopyOnWrite.readSmall(fs, st.getPath).trim).sorted
    fs.delete(new Path(dirStr, SegMetaDir), true)
    segLines
  }

  /** Single-file meta rewrite — the store's commit point. Published
    * atomically so a crash mid-write can never leave a truncated meta
    * over a previously committed one (an in-place create(overwrite)
    * truncates FIRST — a died append would otherwise destroy every
    * committed row's visibility). */
  private def writeMeta(fs: FileSystem, dirStr: String, keyCol: String,
                        ddl: String, segLines: Seq[String]): Unit =
    graft.acid.CopyOnWrite.publish(fs, new Path(dirStr, MetaFile),
      s"$Magic\nkey\t$keyCol\nschema\t$ddl\n" + segLines.map("seg\t" + _).mkString("\n") + "\n")

  private def keyOf(r: InternalRow, idx: Int, dt: DataType): Any = dt match {
    case LongType => r.getLong(idx)
    case StringType => r.getUTF8String(idx).toString
    case other => throw new IllegalStateException(s"bad key type $other")
  }

  // base64 for string keys keeps the tab-separated meta line unambiguous
  private def encKey(k: Any): String = k match {
    case l: Long => s"L$l"
    case s: String => "S" + java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
  }

  private[sources] def decKey(s: String): Any =
    if (s.startsWith("L")) s.drop(1).toLong
    else new String(java.util.Base64.getDecoder.decode(s.drop(1)), UTF_8)

  private def writeRow(out: DataOutputStream, r: InternalRow, fields: Array[StructField]): Unit = {
    var i = 0
    while (i < fields.length) {
      if (r.isNullAt(i)) out.writeBoolean(true)
      else {
        out.writeBoolean(false)
        fields(i).dataType match {
          case LongType | TimestampNTZType | TimestampType => out.writeLong(r.getLong(i))
          case IntegerType | DateType => out.writeInt(r.getInt(i))
          case DoubleType => out.writeDouble(r.getDouble(i))
          case BooleanType => out.writeBoolean(r.getBoolean(i))
          case StringType =>
            val b = r.getUTF8String(i).getBytes
            out.writeInt(b.length); out.write(b)
          case other => throw new IllegalStateException(s"unsupported $other")
        }
      }
      i += 1
    }
  }

  /** Read the store meta; loud failure on a missing/garbled meta file
    * (an uncommitted or half-deleted store must never read as empty). */
  def readMeta(fs: FileSystem, dir: String): Meta = {
    val p = new Path(dir, MetaFile)
    require(fs.exists(p), s"not a graftkv store (no $MetaFile): $dir")
    val lines = graft.acid.CopyOnWrite.readSmall(fs, p).linesIterator.toList
    require(lines.headOption.contains(Magic), s"bad magic in $p")
    var key: String = null
    var schema: StructType = null
    val segs = Seq.newBuilder[Segment]
    lines.drop(1).filter(_.nonEmpty).foreach { line =>
      line.split("\t", -1).toList match {
        case "key" :: k :: Nil => key = k
        case "schema" :: ddl :: Nil => schema = StructType.fromDDL(ddl)
        case "seg" :: name :: rows :: minK :: maxK :: Nil =>
          segs += Segment(name, rows.toLong, decKey(minK), decKey(maxK))
        case other => throw new IllegalStateException(s"garbled meta line: $line")
      }
    }
    require(key != null && schema != null, s"incomplete meta in $p")
    Meta(key, schema, segs.result())
  }

  /** Test seams: SegmentReader is private[sources]; these let specs in
    * the graft test package construct one and pin the seek/stop decode
    * counters (rowsMaterialized, rowsSkippedBySeek). */
  private[graft] def newSegmentReader(fs: FileSystem, dir: String, file: String,
      full: StructType, required: StructType, keyCol: String,
      stopAt: Option[Any], startAt: Option[Any]): Iterator[InternalRow] =
    new SegmentReader(fs, dir, file, full, required, keyCol, stopAt, startAt)

  private[graft] def readerCounters(r: Iterator[InternalRow]): (Long, Long) = r match {
    case s: SegmentReader => (s.rowsMaterialized, s.rowsSkippedBySeek)
    case other => throw new IllegalArgumentException(s"not a SegmentReader: $other")
  }

  /** FilterInputStream that can RECORD the bytes it hands out into a
    * reusable buffer, so one already-consumed row can be replayed. Used
    * by the seek-to-lo fast-forward: rows below the lower bound are
    * decoded key-only (strings copied, never allocated as objects), and
    * the first row AT/PAST the bound — whose bytes were necessarily
    * consumed before its key was known — is re-decoded from the
    * recording instead of being lost. skip() reads (not seeks) while
    * recording, so skipped string bytes stay replayable. */
  private final class RecordingInput(under: java.io.InputStream)
      extends java.io.FilterInputStream(under) {
    private val buf = new java.io.ByteArrayOutputStream(1 << 10)
    private var rec = false
    def startRecording(): Unit = { buf.reset(); rec = true }
    def stopRecording(): Unit = rec = false
    def replay(): DataInputStream =
      new DataInputStream(new java.io.ByteArrayInputStream(buf.toByteArray))
    override def read(): Int = {
      val b = super.read(); if (rec && b >= 0) buf.write(b); b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (rec && n > 0) buf.write(b, off, n); n
    }
    override def skip(n: Long): Long =
      if (!rec) super.skip(n)
      else { // must pass through read() so the bytes are recorded
        val chunk = new Array[Byte](math.min(n, 1 << 16).toInt)
        val got = read(chunk, 0, chunk.length)
        if (got < 0) 0L else got.toLong
      }
  }

  /** Streaming decoder over one segment file, projecting `required`
    * columns (others are skipped without decoding), FAST-FORWARDING past
    * keys below `startAt` (the block-index seek analog: skipped rows
    * decode only their key, no object materialization) and STOPPING at
    * the first key past `stopAt` (rows are key-sorted — the region
    * scan's start/stop-rows). Returns Catalyst InternalRows. */
  private[sources] final class SegmentReader(fs: FileSystem, dir: String, file: String,
                                             full: StructType, required: StructType,
                                             keyCol: String, stopAt: Option[Any],
                                             startAt: Option[Any] = None)
      extends Iterator[InternalRow] with AutoCloseable {
    private val rec = new RecordingInput(new java.io.BufferedInputStream(
      fs.open(new Path(dir, file)), 1 << 16))
    private val in = new DataInputStream(rec)
    require(in.readUTF() == Magic, s"bad segment magic: $file")
    require(in.readInt() == full.fields.length, s"field-count drift: $file")
    private val fileSchema = StructType.fromDDL(in.readUTF())
    require(fileSchema == full, s"segment/meta schema drift in $file")
    private val keyIdx = full.fieldIndex(keyCol)
    // required position for each file column, -1 = skip
    private val proj: Array[Int] = full.fields.map(f =>
      if (required.fieldNames.contains(f.name)) required.fieldIndex(f.name) else -1)
    private var nextRow: InternalRow = _
    private var done = false
    private var seeking = startAt.isDefined

    /** Observability for the seek/stop contract (KvHandlerSpec pins
      * that a point lookup at a segment's tail materializes ~1 row). */
    private[sources] var rowsMaterialized: Long = 0L
    private[sources] var rowsSkippedBySeek: Long = 0L

    /** Decode one row from `src` into an InternalRow (materialize=true)
      * or key-only (materialize=false). Returns null at clean EOF.
      * The row's key lands in `lastKey` either way. */
    private def decodeRow(src: DataInputStream, materialize: Boolean): InternalRow = {
      // EOFException is a clean end ONLY on the very first byte of a
      // row; mid-row EOF is a truncated segment and propagates loudly
      val firstNull = try src.readBoolean() catch {
        case _: EOFException => return null
      }
      lastKey = null
      val vals = if (materialize) new Array[Any](required.length) else null
      readField(src, 0, firstNull, vals)
      var i = 1
      while (i < full.length) {
        readField(src, i, src.readBoolean(), vals)
        i += 1
      }
      if (materialize) {
        rowsMaterialized += 1
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      } else InternalRow.empty
    }

    private def advance(): Unit = {
      if (done) return
      while (seeking) {
        // fast-forward: rows are key-sorted, so everything below the
        // lower bound is consumed key-only (recorded, not materialized);
        // the boundary row's bytes are replayed from the recording
        rec.startRecording()
        if (decodeRow(in, materialize = false) == null) {
          rec.stopRecording(); done = true; nextRow = null; close(); return
        }
        if (lastKey != null && compareKeys(lastKey, startAt.get) >= 0) {
          rec.stopRecording()
          seeking = false
          val replayed = decodeRow(rec.replay(), materialize = true)
          if (stopAt.exists(hi => compareKeys(lastKey, hi) > 0)) {
            rowsMaterialized -= 1 // boundary probe, not an output row
            done = true; nextRow = null; close()
          } else nextRow = replayed
          return
        }
        rowsSkippedBySeek += 1
        rec.stopRecording()
      }
      val row = decodeRow(in, materialize = true)
      if (row == null) { done = true; nextRow = null; close(); return }
      if (stopAt.exists(hi => lastKey != null && compareKeys(lastKey, hi) > 0)) {
        // sorted segment: every later row is past the bound too
        rowsMaterialized -= 1 // the boundary probe is not an output row
        done = true; nextRow = null; close()
      } else nextRow = row
    }

    private var lastKey: Any = _

    /** Decode field `i` into the projection (or skip its bytes;
      * `vals == null` = key-only mode, nothing materializes). Key
      * fields remember their external value for the seek/stop checks. */
    private def readField(src: DataInputStream, i: Int, isNull: Boolean,
                          vals: Array[Any]): Unit = {
      val dt = full.fields(i).dataType
      val p = if (vals == null) -1 else proj(i)
      if (isNull) { if (p >= 0) vals(p) = null; return }
      dt match {
        case LongType | TimestampNTZType | TimestampType =>
          val v = src.readLong()
          if (i == keyIdx) lastKey = v
          if (p >= 0) vals(p) = v
        case IntegerType | DateType =>
          val v = src.readInt(); if (p >= 0) vals(p) = v
        case DoubleType =>
          val v = src.readDouble(); if (p >= 0) vals(p) = v
        case BooleanType =>
          val v = src.readBoolean(); if (p >= 0) vals(p) = v
        case StringType =>
          val len = src.readInt()
          if (p >= 0 || i == keyIdx) {
            val b = new Array[Byte](len); src.readFully(b)
            if (i == keyIdx) lastKey = new String(b, UTF_8)
            if (p >= 0) vals(p) = UTF8String.fromBytes(b)
          } else {
            // skipBytes may skip FEWER bytes than asked (its contract);
            // a short skip would desync the decoder silently — loop and
            // fall back to readFully, which throws loudly on truncation
            var left = len
            while (left > 0) {
              val skipped = src.skipBytes(left)
              if (skipped > 0) left -= skipped
              else { src.readFully(new Array[Byte](left)); left = 0 }
            }
          }
        case other => throw new IllegalStateException(s"unsupported $other")
      }
    }

    advance()
    override def hasNext: Boolean = nextRow != null
    override def next(): InternalRow = { val r = nextRow; advance(); r }
    override def close(): Unit = in.close()
  }
}
