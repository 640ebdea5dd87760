package graft.etl

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** EXPORT / IMPORT — table + metadata movement between warehouses
  * (reference ql/src/java/org/apache/hadoop/hive/ql/parse/
  * ExportSemanticAnalyzer.java and ImportSemanticAnalyzer.java). Hive's
  * EXPORT writes a `_metadata` descriptor plus the table's data files
  * under the target directory; IMPORT replays the descriptor into the
  * destination metastore and lands the files. The graft analog keeps that
  * exact shape: `_metadata` holds the SHOW CREATE TABLE statement (the
  * catalog-complete, replayable description Spark itself guarantees),
  * data rides under `data/` preserving the partition directory layout,
  * and import = replay DDL + copy + MSCK REPAIR (partition discovery) —
  * so a partitioned export round-trips with its partitions registered.
  * Data movement is Hadoop-FS file copy, never a scan: at 100 TB an
  * export is bounded by raw I/O (or by DistCp on a real cluster), not by
  * query execution.
  */
object ExportImport {

  private val MetadataFile = "_metadata"

  /** Dump `table` (data + replayable DDL) under `dir`. */
  def exportTable(spark: SparkSession, table: String, dir: String): Unit = {
    val ddl = spark.sql(s"SHOW CREATE TABLE $table").collect()(0).getString(0)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val conf = spark.sessionState.newHadoopConf()
    val out = new Path(dir)
    val fs = out.getFileSystem(conf)
    require(!fs.exists(out) || fs.listStatus(out).isEmpty,
      s"EXPORT target $dir exists and is not empty")
    fs.mkdirs(out)

    val srcRoot = new Path(meta.location)
    val srcFs = srcRoot.getFileSystem(conf)
    val dataDir = new Path(out, "data")
    fs.mkdirs(dataDir)
    // copy the table tree as-is: partition dirs keep their k=v layout
    srcFs.listStatus(srcRoot)
      .filter(st => !st.getPath.getName.startsWith("_"))
      .foreach(st => FileUtil.copy(srcFs, st.getPath, fs, new Path(dataDir, st.getPath.getName), false, conf))

    graft.acid.CopyOnWrite.publish(fs, new Path(out, MetadataFile), ddl)
  }

  /** Replay an export at `dir` as `asTable` (optionally in another
    * database — the name is rewritten in the stored DDL). */
  def importTable(spark: SparkSession, dir: String, asTable: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val in = new Path(dir)
    val fs = in.getFileSystem(conf)
    val metaPath = new Path(in, MetadataFile)
    require(fs.exists(metaPath), s"IMPORT source $dir has no $MetadataFile descriptor")
    val ddl = graft.acid.CopyOnWrite.readSmall(fs, metaPath)

    // SHOW CREATE TABLE emits `CREATE TABLE <qualified original name> (`;
    // replay it under the import name. Two rewrites matter:
    //  - the name: quoteReplacement guards '$'/'\' in asTable, and the
    //    emitted name is matched as the (possibly backtick-quoted)
    //    qualified identifier, not a bare \S+ that breaks on spaces
    //  - the LOCATION clause is STRIPPED: replaying an external table's
    //    own location would alias the import onto the LIVE source dir —
    //    the copy below would pour exported files back into the source
    //    table and every later write/drop of the import would mutate it.
    //    The import owns a fresh (managed or caller-chosen) location.
    val rewritten = ddl
      .replaceFirst("""(?s)^CREATE TABLE\s+(`[^`]*`(?:\.`[^`]*`)*|\S+)""",
        java.util.regex.Matcher.quoteReplacement(s"CREATE TABLE $asTable"))
      .replaceAll("""(?i)\sLOCATION\s+'[^']*'""", "")
    spark.sql(rewritten)

    val destMeta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(asTable))
    val destRoot = new Path(destMeta.location)
    val destFs = destRoot.getFileSystem(conf)
    val dataDir = new Path(in, "data")
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).foreach(st =>
        FileUtil.copy(fs, st.getPath, destFs, new Path(destRoot, st.getPath.getName), false, conf))

    if (destMeta.partitionColumnNames.nonEmpty)
      spark.sql(s"MSCK REPAIR TABLE $asTable")
    spark.sql(s"REFRESH TABLE $asTable")
  }
}
