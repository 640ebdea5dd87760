package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Hive-compatible defaults (see SURVEY.md §1.2): UTC session timezone
  * (Hive timestamps are timezone-less), ANSI off-like behavior comes from
  * Spark defaults. AQE on so skew joins / partition coalescing mirror the
  * reference's SkewJoinResolver / SetReducerParallelism
  * (ql/src/java/org/apache/hadoop/hive/ql/optimizer/physical/) for free.
  *
  * Every session in the engine, its tests, `Bench`, `Verify`, the tools
  * and perfbench's harness is built through `configure`, so the static
  * confs it sets (the codegen cache size) hold for the whole JVM as long
  * as the JVM's first session comes from here.
  */
object Session {

  /** Apply engine defaults to any builder (local or cluster master). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    // Hive-compat semantics (SURVEY.md §1.2): failed casts -> NULL,
    // div-by-zero -> NULL, no overflow errors. Spark 4 defaults ANSI on.
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // events.parquet carries TIMESTAMP(NANOS) which Spark refuses by
    // default; read as long and convert in Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Spark caches 100 generated classes by default, fewer than one pass
    // generates (47-query headline pass at sf0.1: 782 classes, 788 over
    // three passes; the whole 291-query contract, each query once: 3238),
    // and a class that falls out is compiled again (Janino, then JIT) on
    // the next pass. Static: it counts only if set before the JVM's first
    // codegen.
    .config("spark.sql.codegen.cache.maxEntries", "2000")

  /** Hive-metastore-backed session: catalog state (databases, tables,
    * views, partitions) persists in a derby-backed metastore under
    * `dir/metastore_db` with data under `dir/warehouse`, surviving
    * process restarts — the reference's persistent HiveMetaStore
    * (metastore/src/java/org/apache/hadoop/hive/metastore/
    * HiveMetaStore.java) in its embedded deployment mode. The same
    * builder pointed at a Thrift URI (`hive.metastore.uris`) or a JDBC
    * RDBMS URL instead of embedded derby gives the shared-service mode
    * on a real cluster; embedded derby itself is single-process-at-a-
    * time (the documented Hive embedded-mode limitation), which is why
    * MetastoreSpec pins persistence across SEQUENTIAL processes. */
  def persistent(dir: String, cores: String = "4"): SparkSession = {
    // catalogImplementation/warehouse/ConnectionURL are STATIC confs:
    // getOrCreate against an existing session would silently ignore all
    // of them and hand back an ephemeral in-memory catalog. Fail fast.
    require(SparkSession.getActiveSession.isEmpty && SparkSession.getDefaultSession.isEmpty,
      "Session.persistent needs a fresh JVM: an existing SparkSession would " +
      "silently keep its in-memory catalog (static conf). Stop it first or " +
      "run in a separate process (see tools.CatalogCli).")
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft-metastore")
        .enableHiveSupport()
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .config("javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local session sized for the test harness (local[N] = one JVM). */
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.warehouse.dir",
          s"/tmp/graft_warehouse_${sys.process.Process("id -u").!!.trim}")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
