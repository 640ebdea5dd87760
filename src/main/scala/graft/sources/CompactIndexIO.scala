package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Compact-index analog of the reference's `CREATE INDEX ... AS 'COMPACT'`
  * (ql/src/java/org/apache/hadoop/hive/ql/index/compact/
  * CompactIndexHandler.java; the index table schema — key, _bucketname,
  * _offsets — built by HiveIndex and consumed by
  * HiveIndexedInputFormat.java, which prunes the splits a MapReduce scan
  * reads). Hive's rewrite swaps the base-table scan for a scan over only
  * the bucket files containing the predicate's key values; the Spark-first
  * re-expression keeps exactly that contract at FILE granularity:
  *
  *   index   = distinct (key value, data file) pairs, stored as parquet
  *   query   = look up the predicate values in the index (a sliver read),
  *             then scan ONLY the named files, with the exact predicate
  *             re-applied on top.
  *
  * Offset-level granularity (Hive's `_offsets` array) is deliberately NOT
  * replicated: inside a parquet file, row-group statistics + predicate
  * pushdown already give the sub-file pruning that Hive needed explicit
  * offsets for on sequence/RC files. The index's value at 100 TB is the
  * file-level skip — a clustered/range-written table turns a full-table
  * scan into a handful of file reads without any partitioning scheme, and
  * the index itself is built with one distinct over (value, file), i.e.
  * one shuffle of the key column, storable and incrementally rebuildable.
  *
  * Like Hive's `WITH DEFERRED REBUILD`, the index is a snapshot: it
  * records the file set it was built from, `isStale` detects drift, and
  * `build` IS the `ALTER INDEX ... REBUILD`.
  */
object CompactIndexIO {

  private def dataDir(indexDir: String) = s"$indexDir/index"
  private def filesDir(indexDir: String) = s"$indexDir/source_files"

  // --- canonical file-URI spelling ------------------------------------
  //
  // Two Spark APIs name the same file differently: input_file_name()
  // renders a local file as `file:///p` while DataFrame.inputFiles (the
  // metadata-only listing) renders `file:/p`. An index stores file names
  // and later compares them against fresh listings — a spelling mismatch
  // would make every refresh see all files as simultaneously added and
  // removed (a silent full rebuild at best, duplicate index rows at
  // worst). Every stored name and every listing therefore passes through
  // ONE canonicalizer: `scheme:/path` becomes `scheme:///path`; URIs
  // already carrying `//` (file:///, hdfs://nn/, s3a://bucket/) are
  // untouched. canonFile (driver, java.lang.String.replaceFirst) and
  // canonFileCol (Catalyst regexp_replace) share the same Java regex, so
  // build-side and compare-side can never disagree. Applied on READ of
  // stored values too, so indexes persisted before canonicalization
  // migrate transparently on their first refresh.
  private val CanonRe = "^([A-Za-z][A-Za-z0-9+.-]*):/(?!/)"

  /** Scheme-spelling canonicalizer only — deliberately NOT a
    * Path->toUri round trip, which double-encodes already-encoded
    * input (`my%20t` -> `my%2520t`, verified against this Hadoop
    * build) and would corrupt every stored value containing `%`.
    * Percent-encoding needs no normalization here: on this Spark
    * build both DataFrame.inputFiles and input_file_name() return the
    * SAME URI-encoded `file:///...%20...` spelling (verified
    * empirically with a space-containing table dir), so the only drift
    * axis ever observed is `scheme:/` vs `scheme:///`, which this
    * regex fixes on both the driver and the column side. */
  private[graft] def canonFile(s: String): String = s.replaceFirst(CanonRe, "$1:///")

  private def canonFileCol(c: Column): Column = regexp_replace(c, CanonRe, "$1:///")

  /** Metadata-only canonical file listing of a table dir — the same
    * driver-side listing the scan itself performs, NOT a distributed
    * read of the data (the previous
    * `select(input_file_name()).distinct().collect()` spelling was a
    * full-table scan just to learn the file names). */
  private def listFiles(df: DataFrame): Set[String] =
    df.inputFiles.iterator.map(canonFile).toSet

  /** Persist a canonical file-name snapshot (sorted for determinism;
    * metadata-scale — one short string per data file). */
  private def writeSnapshot(spark: SparkSession, files: Set[String], dir: String): Unit = {
    import spark.implicits._
    files.toSeq.sorted.toDF("src_file").write.mode("overwrite").parquet(dir)
  }

  /** Write the whole index dir (rows + snapshot [+ params]) atomically
    * under the index's writer lock: direct on the first build,
    * staged-swap rebuild afterwards — the same hardening refresh() has.
    * A plain overwrite deletes the live index first, so a concurrently
    * routed query would see a missing or half-written index and silently
    * return empty prunes. */
  private def writeIndexDir(spark: SparkSession, indexDir: String)
                           (write: String => Unit): Unit =
    graft.acid.CopyOnWrite.withTableLock(spark, indexDir) {
      val p = new org.apache.hadoop.fs.Path(indexDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) write(indexDir)
      else {
        graft.acid.CopyOnWrite.stagedSwap(spark, indexDir) { st =>
          write(st.toString); true
        }
        ()
      }
    }

  /** One shuffle of (key, file): the distinct is the map-side-combinable
    * aggregate; file paths are stored relative-free (full URI) so the
    * index survives being read from a different working directory. */
  def build(spark: SparkSession, tableDir: String, column: String, indexDir: String): Unit = {
    val src = spark.read.parquet(tableDir)
    writeIndexDir(spark, indexDir) { dir =>
      src.select(col(column).as("idx_value"),
                 canonFileCol(input_file_name()).as("idx_file"))
        .distinct()
        .write.mode("overwrite").parquet(dataDir(dir))
      writeSnapshot(spark, listFiles(src), filesDir(dir))
    }
  }

  /** The source files the index knows for these values. Driver-side
    * collect is metadata-scale by construction: the result is a list of
    * FILE PATHS (at 100 TB with 1 GB files that is ~10^5 strings for a
    * FULL-table predicate, and a handful for the selective predicates an
    * index exists to serve) — the same cardinality Hive's split pruning
    * handled on the client. */
  def prunedFiles(spark: SparkSession, indexDir: String, values: Seq[Any]): Seq[String] =
    spark.read.parquet(dataDir(indexDir))
      .filter(col("idx_value").isin(values: _*))
      .select(col("idx_file")).distinct()
      .collect().map(_.getString(0)).toSeq

  /** Index-routed scan: read only the files the index names, re-apply the
    * exact predicate (the index is a superset route, never a filter —
    * same as HiveIndexedInputFormat, which still runs the original
    * predicate over the surviving splits). */
  def read(spark: SparkSession, tableDir: String, indexDir: String,
           column: String, values: Seq[Any]): DataFrame = {
    val full = spark.read.parquet(tableDir)
    val files = prunedFiles(spark, indexDir, values)
    val pred: Column = col(column).isin(values: _*)
    if (files.isEmpty) full.filter(pred).limit(0)
    else spark.read.schema(full.schema).parquet(files: _*).filter(pred)
  }

  /** Zone-map variant: per-file min/max of the indexed column — the
    * range-predicate sibling of the compact value index (what the
    * reference gets from ORC stripe stats, ql/io/orc/RecordReaderImpl's
    * pickRowGroups, lifted to file granularity for any format). One
    * aggregate over (file) builds it; a BETWEEN predicate then scans only
    * files whose [min,max] intersects the query range. */
  def buildMinMax(spark: SparkSession, tableDir: String, column: String, indexDir: String): Unit = {
    val src = spark.read.parquet(tableDir)
    writeIndexDir(spark, indexDir) { dir =>
      src.select(col(column).as("v"), canonFileCol(input_file_name()).as("idx_file"))
        .groupBy(col("idx_file"))
        .agg(min(col("v")).as("min_value"), max(col("v")).as("max_value"))
        .write.mode("overwrite").parquet(dataDir(dir))
      writeSnapshot(spark, listFiles(src), filesDir(dir))
    }
  }

  /** Zone files intersecting [lo, hi] (either bound optional) — the
    * lookup the transparent route (plans/IndexRoute) uses. Null-zone
    * files (all-null column) drop out of the >=/<= comparisons, which is
    * correct for any range predicate no null row satisfies. */
  def prunedFilesRange(spark: SparkSession, indexDir: String,
                       lo: Option[Any], hi: Option[Any]): Seq[String] =
    spark.read.parquet(dataDir(indexDir))
      .filter(lo.map(v => col("max_value") >= lit(v)).getOrElse(lit(true)) &&
              hi.map(v => col("min_value") <= lit(v)).getOrElse(lit(true)))
      .select(col("idx_file")).distinct()
      .collect().map(_.getString(0)).toSeq

  /** Range-routed scan over a min/max index: keep files whose zone
    * intersects [lo, hi], re-apply the exact predicate. Files whose
    * indexed column was all-null have null min/max and are skipped —
    * correct for a BETWEEN predicate, which no null row satisfies. */
  def readRange(spark: SparkSession, tableDir: String, indexDir: String,
                column: String, lo: Any, hi: Any): DataFrame = {
    val full = spark.read.parquet(tableDir)
    // same lookup the transparent route uses — one definition to fix
    val files = prunedFilesRange(spark, indexDir, Some(lo), Some(hi))
    val pred: Column = col(column).between(lit(lo), lit(hi))
    if (files.isEmpty) full.filter(pred).limit(0)
    else spark.read.schema(full.schema).parquet(files: _*).filter(pred)
  }

  // --- Bloom-filter variant ------------------------------------------
  //
  // The point-lookup sibling for HASH-clustered layouts, where the
  // reference reaches for its bitmap index (ql/index/bitmap/
  // BitmapIndexHandler.java) or ORC bloom filters (orc.bloom.filter
  // .columns, ql/io/orc/WriterImpl's BloomFilterIO): when a table is
  // hash-distributed on a key, every file's [min, max] zone spans the
  // whole domain and the zone map prunes nothing, but a per-file Bloom
  // filter answers "might this file contain value v" in one bit-probe
  // conjunction. The index row is (file, array<bigint> bitset) — at
  // 16 KB per file it is ~1.6 GB for a 10^5-file 100 TB table, which is
  // why the membership test runs DISTRIBUTED as a filter over the index
  // table (the probe positions are query-side constants, so it is a
  // codegen'd projection); only the surviving file NAMES reach the
  // driver. False positives cost a wasted file read that the exact
  // re-filter absorbs; false negatives cannot happen (no-false-negative
  // pin in BloomIndexSpec), so the route is sound.
  //
  // Hashing is Kirsch-Mitzenmacher double hashing (pos_j = h1 + j*h2
  // mod bits) over the engine's own codegen'd xxhash64; the lookup
  // replays the identical Catalyst expressions driver-side after
  // casting the probe value to the indexed column's type (stored in the
  // index params), so build and probe can never disagree on a bit.

  private def paramsDir(indexDir: String) = s"$indexDir/params"

  /** OR rows' probe-position arrays into one fixed bitset per group. */
  private class BloomAgg(words: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Long], Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](words)
    def reduce(b: Array[Long], pos: Seq[Long]): Array[Long] = {
      pos.foreach(p => b((p >> 6).toInt) |= 1L << (p & 63)); b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0; while (i < words) { x(i) |= y(i); i += 1 }; x
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  private def positionCols(c: Column, bits: Int, numHashes: Int): Column = {
    val h1 = xxhash64(c)
    val h2 = xxhash64(c, lit(1))
    array((0 until numHashes).map(j => pmod(h1 + lit(j.toLong) * h2, lit(bits.toLong))): _*)
  }

  /** One pass over (file, key): OR each row's probe bits into the
    * file's bitset. `bits` defaults to 16 KB per file — at 1 GB files
    * and ~10^6 distinct keys per file that is ~0.1 bits/key too small,
    * so size `bits` to ~10 x expected distinct keys per file. */
  def buildBloom(spark: SparkSession, tableDir: String, column: String, indexDir: String,
                 bits: Int = 1 << 17, numHashes: Int = 5): Unit = {
    require(bits % 64 == 0 && bits > 0, s"bits must be a positive multiple of 64, got $bits")
    val src = spark.read.parquet(tableDir)
    val dt = src.schema(column).dataType
    writeIndexDir(spark, indexDir) { dir =>
      src.select(canonFileCol(input_file_name()).as("idx_file"),
                 positionCols(col(column), bits, numHashes).as("pos"))
        .groupBy(col("idx_file"))
        .agg(udaf(new BloomAgg(bits / 64)).apply(col("pos")).as("bloom"))
        .write.mode("overwrite").parquet(dataDir(dir))
      writeSnapshot(spark, listFiles(src), filesDir(dir))
      import spark.implicits._
      Seq((bits, numHashes, dt.json)).toDF("bits", "num_hashes", "dtype")
        .write.mode("overwrite").parquet(paramsDir(dir))
    }
  }

  /** Driver-side replay of the build's probe positions: identical
    * Catalyst XxHash64 expressions, after casting the probe value to
    * the indexed column's type. */
  private def bloomPositions(v: Any, dt: org.apache.spark.sql.types.DataType,
                             bits: Int, numHashes: Int): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    val typed = Literal.create(Cast(Literal(v), dt).eval(null), dt)
    val h1 = new XxHash64(Seq(typed)).eval(null).asInstanceOf[Long]
    val h2 = new XxHash64(Seq(typed, Literal(1))).eval(null).asInstanceOf[Long]
    (0 until numHashes).map(j => java.lang.Math.floorMod(h1 + j.toLong * h2, bits.toLong))
  }

  /** Files that MIGHT contain any of `values` — the distributed
    * bit-probe filter over the index table. */
  def prunedFilesBloom(spark: SparkSession, indexDir: String, values: Seq[Any]): Seq[String] = {
    // an empty probe set can match no file anywhere — return that rather
    // than letting the reduce below throw on an empty collection
    if (values.isEmpty) return Nil
    val p = spark.read.parquet(paramsDir(indexDir)).collect()(0)
    val (bits, k) = (p.getInt(0), p.getInt(1))
    val dt = org.apache.spark.sql.types.DataType.fromJson(p.getString(2))
    val hit = values.map { v =>
      bloomPositions(v, dt, bits, k).map { pos =>
        val word = element_at(col("bloom"), (pos >> 6).toInt + 1)
        shiftrightunsigned(word, (pos & 63).toInt).bitwiseAND(lit(1L)) === lit(1L)
      }.reduce(_ && _)
    }.reduce(_ || _)
    spark.read.parquet(dataDir(indexDir))
      .filter(hit)
      .select(col("idx_file")).distinct()
      .collect().map(_.getString(0)).toSeq
  }

  /** Bloom-routed scan: read only might-contain files, exact predicate
    * on top (false positives vanish here; false negatives can't occur). */
  def readBloom(spark: SparkSession, tableDir: String, indexDir: String,
                column: String, values: Seq[Any]): DataFrame = {
    val full = spark.read.parquet(tableDir)
    val files = prunedFilesBloom(spark, indexDir, values)
    val pred: Column = col(column).isin(values: _*)
    if (files.isEmpty) full.filter(pred).limit(0)
    else spark.read.schema(full.schema).parquet(files: _*).filter(pred)
  }

  /** Incremental REBUILD: because every index row depends on exactly one
    * data file, the index is embarrassingly incremental — append-only
    * drift re-indexes ONLY the new files, and a deleted/compacted-away
    * file just drops its rows. The reference's `ALTER INDEX ... REBUILD`
    * promises deferral but delivers a full re-scan
    * (CompactIndexHandler's index-build task rebuilds the index table);
    * here the nightly-append cost is O(new files) scan + a metadata-
    * scale merge of the surviving index rows, which is the contract
    * that keeps a 100 TB table's index maintainable at all. The merged
    * index is staged and swapped (write-then-rename), so a concurrent
    * reader sees the old or new index, never a half-written one. */
  def refresh(spark: SparkSession, tableDir: String, column: String, indexDir: String,
              kind: String = "value"): Unit = {
    require(Set("value", "minmax", "bloom")(kind), s"unknown index kind $kind")
    // serialize concurrent refreshers on the index's own sidecar lock
    // (the known-files snapshot must be read INSIDE the lock, or a
    // refresher could merge against a predecessor's pre-swap listing)
    graft.acid.CopyOnWrite.withTableLock(spark, indexDir) {
      val known = spark.read.parquet(filesDir(indexDir))
        .collect().map(r => canonFile(r.getString(0))).toSet
      val src = spark.read.parquet(tableDir)
      val now = listFiles(src)
      if (known != now) refreshLocked(spark, src, column, indexDir, kind, known, now)
    }
    // the transparent route pins the file snapshot captured at register
    // time; without this a refreshed index NEVER routes again (the
    // staleness guard keeps comparing against the pre-append listing)
    graft.plans.IndexCatalog.refreshSnapshot(spark, tableDir)
  }

  private def refreshLocked(spark: SparkSession, src: DataFrame, column: String,
                            indexDir: String, kind: String,
                            known: Set[String], now: Set[String]): Unit = {
    val newFiles = (now -- known).toSeq.sorted
    val removed = known -- now
    val newRows = if (newFiles.isEmpty) None else {
      val fresh = spark.read.schema(src.schema).parquet(newFiles: _*)
      Some(kind match {
        case "value" =>
          fresh.select(col(column).as("idx_value"),
                       canonFileCol(input_file_name()).as("idx_file")).distinct()
        case "minmax" =>
          fresh.select(col(column).as("v"), canonFileCol(input_file_name()).as("idx_file"))
            .groupBy(col("idx_file"))
            .agg(min(col("v")).as("min_value"), max(col("v")).as("max_value"))
        case "bloom" =>
          val p = spark.read.parquet(paramsDir(indexDir)).collect()(0)
          val (bits, k) = (p.getInt(0), p.getInt(1))
          fresh.select(canonFileCol(input_file_name()).as("idx_file"),
                       positionCols(col(column), bits, k).as("pos"))
            .groupBy(col("idx_file"))
            .agg(udaf(new BloomAgg(bits / 64)).apply(col("pos")).as("bloom"))
      })
    }
    // idx_file is re-canonicalized on read so a pre-canonicalization
    // index migrates here: `removed` holds canonical names, and the
    // kept rows are persisted back in canonical spelling
    val kept = spark.read.parquet(dataDir(indexDir))
      .withColumn("idx_file", canonFileCol(col("idx_file")))
      .filter(if (removed.isEmpty) lit(true)
              else !col("idx_file").isin(removed.toSeq: _*))
    val merged = newRows.fold(kept)(kept.unionByName(_))
    val params =
      if (kind == "bloom") Some(spark.read.parquet(paramsDir(indexDir)).collect()(0))
      else None
    // the whole index directory (rows + file snapshot + params) is built
    // in staging and swapped with CopyOnWrite's backup-rename-rollback
    // protocol — a concurrent route sees the old or new index, never a
    // missing or half-written one, and a crash cannot leave the file
    // snapshot out of step with the rows (the round-trip that would make
    // the NEXT refresh union duplicate rows)
    graft.acid.CopyOnWrite.stagedSwap(spark, indexDir) { staging =>
      merged.write.parquet(s"$staging/index")
      writeSnapshot(spark, now, s"$staging/source_files")
      params.foreach { p =>
        import spark.implicits._
        Seq((p.getInt(0), p.getInt(1), p.getString(2)))
          .toDF("bits", "num_hashes", "dtype").write.parquet(s"$staging/params")
      }
      true
    }
    ()
  }

  /** Has the table drifted since the index was built? (The DEFERRED
    * REBUILD contract: a stale index must be detectable, not silently
    * wrong.) */
  def isStale(spark: SparkSession, tableDir: String, indexDir: String): Boolean = {
    val known = spark.read.parquet(filesDir(indexDir))
      .collect().map(r => canonFile(r.getString(0))).toSet
    val now = listFiles(spark.read.parquet(tableDir))
    known != now
  }
}
