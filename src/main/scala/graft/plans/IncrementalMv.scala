package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance for aggregate materialized views over
  * APPEND-ONLY bases — the reference line's incremental MV rebuild
  * (HIVE-20962 et al.: when every source change since the last rebuild
  * is an INSERT, the view is refreshed by aggregating only the new data
  * and merging it into the stored state; anything else falls back to a
  * full rebuild). That is exactly the 100 TB maintenance contract: a
  * daily ingest touches the view at O(new data) cost, never O(corpus).
  *
  * Supported shape (same restriction Hive documents): optional row
  * filter, GROUP BY on stored columns, and re-aggregable aggregates —
  * count / sum / min / max. Their merge functions are themselves
  * aggregates (count merges by SUM, sum by SUM, min by MIN, max by MAX),
  * so the refresh is: aggregate the delta files, union with the stored
  * cells, re-aggregate the union — one vocab... view-sized shuffle.
  * AVG is deliberately rejected: store SUM and COUNT cells instead and
  * divide at read time (the standard decomposition).
  *
  * Change detection is the file listing (the CompactIndexIO/DEFERRED
  * REBUILD discipline): appended files → incremental; any REMOVED file →
  * automatic full recompute, reported in the result so callers can see
  * which path ran.
  *
  * The view registers its definition with [[MaterializedViews]] at
  * create time, so the MvRewrite rule routes matching queries to the
  * maintained parquet; incremental refresh updates the data in place and
  * the registration (a plan → path mapping) stays valid.
  */
object IncrementalMv {

  /** One aggregate cell: `fn(column) AS as`, fn ∈ count|sum|min|max. */
  final case class AggSpec(fn: String, column: String, as: String) {
    require(Set("count", "sum", "min", "max")(fn),
      s"unsupported incremental aggregate $fn (store sum+count for avg)")
    def initial: Column = fn match {
      case "count" => count(col(column)).as(as)
      case "sum" => sum(col(column)).as(as)
      case "min" => min(col(column)).as(as)
      case "max" => max(col(column)).as(as)
    }
    def merge: Column = fn match {
      case "count" | "sum" => sum(col(as)).as(as)
      case "min" => min(col(as)).as(as)
      case "max" => max(col(as)).as(as)
    }
  }

  final case class Refresh(mode: String, newFiles: Int, removedFiles: Int)

  private def dataDir(path: String) = s"$path/data"
  private def filesDir(path: String) = s"$path/source_files"

  private def listFiles(spark: SparkSession, baseDir: String): Set[String] =
    spark.read.parquet(baseDir).inputFiles.toSet

  private def aggregate(df: DataFrame, filter: Option[Column],
                        groupCols: Seq[String], aggs: Seq[AggSpec]): DataFrame = {
    val filtered = filter.map(df.filter).getOrElse(df)
    filtered.groupBy(groupCols.map(col): _*)
      .agg(aggs.head.initial, aggs.tail.map(_.initial): _*)
  }

  private def mergeCells(cells: DataFrame, groupCols: Seq[String], aggs: Seq[AggSpec]): DataFrame =
    cells.groupBy(groupCols.map(col): _*)
      .agg(aggs.head.merge, aggs.tail.map(_.merge): _*)

  private def writeSnapshot(spark: SparkSession, path: String, baseDir: String,
                            cells: DataFrame): Unit =
      graft.acid.CopyOnWrite.withTableLock(spark, dataDir(path)) {
    import spark.implicits._
    // Distributed staged write + atomic swap (the CopyOnWrite protocol,
    // under the data dir's writer lock): the merged cells may read the
    // CURRENT data dir, so they are written to a sibling staging dir
    // first (old dir still intact while the plan executes) and promoted
    // by two renames. Nothing is ever collected on the driver — a view
    // grouped on a high-cardinality key stays executor-resident no
    // matter how wide it gets.
    val data = dataDir(path)
    val fs = new org.apache.hadoop.fs.Path(data)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(data))) {
      cells.write.mode("overwrite").parquet(data) // initial create: no cycle
    } else {
      graft.acid.CopyOnWrite.stagedSwap(spark, data) { staging =>
        cells.write.mode("overwrite").parquet(staging.toString); true
      }
    }
    listFiles(spark, baseDir).toSeq.toDF("src_file")
      .write.mode("overwrite").parquet(filesDir(path))
  }

  /** Build the view and register it for rewrite. */
  def create(spark: SparkSession, name: String, baseDir: String, filter: Option[Column],
             groupCols: Seq[String], aggs: Seq[AggSpec], path: String): Unit = {
    val defn = aggregate(spark.read.parquet(baseDir), filter, groupCols, aggs)
    writeSnapshot(spark, path, baseDir, defn)
    MaterializedViews.drop(name)
    // register definition against the maintained data (plan only; the
    // parquet at dataDir is refreshed in place)
    val mv = MaterializedViews.Mv(name, defn.queryExecution.optimizedPlan, dataDir(path))
    MaterializedViewsInternal.register(mv)
  }

  /** Refresh at O(new files) when the base only grew; full recompute
    * when anything was removed or rewritten. */
  def refresh(spark: SparkSession, baseDir: String, filter: Option[Column],
              groupCols: Seq[String], aggs: Seq[AggSpec], path: String): Refresh = {
    val known = spark.read.parquet(filesDir(path)).collect().map(_.getString(0)).toSet
    val now = listFiles(spark, baseDir)
    val added = now -- known
    val removed = known -- now
    if (removed.nonEmpty || added.isEmpty) {
      val full = aggregate(spark.read.parquet(baseDir), filter, groupCols, aggs)
      writeSnapshot(spark, path, baseDir, full)
      Refresh(if (removed.nonEmpty) "full" else "noop", added.size, removed.size)
    } else {
      val schema = spark.read.parquet(baseDir).schema
      val deltaCells = aggregate(
        spark.read.schema(schema).parquet(added.toSeq: _*), filter, groupCols, aggs)
      val stored = spark.read.parquet(dataDir(path))
      val merged = mergeCells(stored.unionByName(deltaCells), groupCols, aggs)
      writeSnapshot(spark, path, baseDir, merged)
      Refresh("incremental", added.size, 0)
    }
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(dataDir(path))

  /** The delta frame the incremental path would aggregate — exposed so
    * specs can pin that it reads ONLY the appended files. */
  def deltaFrame(spark: SparkSession, baseDir: String, path: String): DataFrame = {
    val known = spark.read.parquet(filesDir(path)).collect().map(_.getString(0)).toSet
    val added = listFiles(spark, baseDir) -- known
    val schema = spark.read.parquet(baseDir).schema
    if (added.isEmpty) spark.read.parquet(baseDir).limit(0)
    else spark.read.schema(schema).parquet(added.toSeq: _*)
  }

}

/** Registration back-door kept out of the public MaterializedViews API. */
private[plans] object MaterializedViewsInternal {
  def register(mv: MaterializedViews.Mv): Unit = MaterializedViews.register(mv)
}
