package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.acid.CopyOnWrite.{jsonStr, jsonUnescape, publish, readSmall}

/** Skewed tables / list bucketing — `CREATE TABLE ... SKEWED BY (c1, c2)
  * ON (('v1','v2'), ...) STORED AS DIRECTORIES` (reference: ql/src/java/
  * org/apache/hadoop/hive/ql/parse/HiveParser.g tableSkewed,
  * ql/optimizer/listbucketingpruner/ListBucketingPruner.java:57): rows
  * whose skew-column tuple is one of the declared hot tuples are stored
  * in that tuple's OWN directory; everything else lands in the shared
  * default directory (Hive's HIVE_DEFAULT_LIST_BUCKETING_DIR_NAME). A
  * point query on a hot tuple then reads one directory; a point query on
  * a cold tuple reads only the default directory — the compiler prunes,
  * the query text never changes.
  *
  * Spark-first: the layout IS a partitioned write on a derived routing
  * column (`__skew_dir`, the hot tuple encoded into one string), so the
  * default directory and per-tuple directories fall out of the native
  * partitioned sink, and pruning is native partition pruning once
  * [[graft.plans.SkewRoute]] (the ListBucketingPruner analog) conjoins
  * the routing predicate. Unlike a plain `partitionBy(c1, c2)`, the cold
  * tuples do NOT fan out into millions of tiny directories — that is the
  * entire point of list bucketing at 100 TB: per-directory layout for
  * the handful of hot tuples that repay it, one healthy-sized default
  * directory for the long tail.
  *
  * The data files keep the original columns (the routing column is the
  * one consumed by the directory layout), so readers see the table
  * schema unchanged via [[read]].
  *
  * Layout invariant (same as the reference's): rows reach directories
  * only through [[write]]. Hand-appending a hot-tuple row into the
  * default directory breaks pruning the same way it breaks Hive's.
  */
object SkewedTables {

  /** Routing/layout column name; never visible through [[read]]. */
  val DirCol = "__skew_dir"

  /** The shared cold-values directory value (the
    * HIVE_DEFAULT_LIST_BUCKETING_DIR_NAME analog). */
  val Default = "__SKEW_DEFAULT__"

  /** Layout metadata: the skew columns (in declaration order) and the
    * ENCODED hot-tuple directory names ([[encodeDir]]) — membership is
    * all the pruner needs, so tuples are never decoded. */
  final case class SkewMeta(columns: Seq[String], hotDirs: Set[String])

  /** One directory name per hot tuple. Single-column layouts use the RAW
    * value — nothing is ever split back apart, so no escaping is needed,
    * and raw names keep layouts written by earlier single-column versions
    * (whose directories and sidecars are unencoded) routing correctly.
    * Multi-column tuples percent-escape each part so a value containing
    * the separator cannot collide with another tuple (("a,b","c") vs
    * ("a","b,c")). */
  def encodeDir(tuple: Seq[String]): String =
    if (tuple.lengthCompare(1) == 0) tuple.head
    else tuple.map(p => p.replace("%", "%25").replace(",", "%2C")).mkString(",")

  private val sidecarName = "_skew.json"

  /** Single-column form (the overwhelmingly common one). */
  def write(df: DataFrame, dir: String, column: String,
            skewedValues: Seq[String],
            mode: SaveMode = SaveMode.Overwrite): Unit =
    write(df, dir, Seq(column), skewedValues.map(Seq(_)), mode)

  /** Write `df` list-bucketed on string columns `columns` with hot
    * tuples `skewedTuples` (each the full column arity, declaration
    * order). Persists a sidecar so any later session can re-register the
    * layout, and registers for transparent pruning in this one. */
  def write(df: DataFrame, dir: String, columns: Seq[String],
            skewedTuples: Seq[Seq[String]], mode: SaveMode): Unit = {
    require(columns.nonEmpty, "skewed write: SKEWED BY column list is empty")
    require(columns.map(_.toLowerCase).distinct.length == columns.length,
      s"skewed write: duplicate SKEWED BY column in ${columns.mkString(",")}")
    val fields = columns.map(c => df.schema.find(_.name.equalsIgnoreCase(c)).getOrElse(
      throw new IllegalArgumentException(s"skewed write: no column '$c'")))
    fields.foreach(f => require(f.dataType == StringType,
      s"skewed write: SKEWED BY column must be STRING (got ${f.dataType} " +
        "for '" + f.name + "') — hot-value routing compares directory names"))
    require(skewedTuples.nonEmpty, "skewed write: ON () value list is empty")
    skewedTuples.foreach(t => require(t.length == columns.length,
      s"skewed write: ON tuple (${t.mkString(",")}) does not match " +
        s"SKEWED BY arity ${columns.length}"))
    val hotDirs = skewedTuples.map(encodeDir).toSet
    require(!hotDirs.contains(Default),
      s"skewed write: '$Default' is the reserved default-directory name")
    // Spark's partitioned sink writes an empty or null partition VALUE —
    // and the literal '__HIVE_DEFAULT_PARTITION__' — into the
    // __HIVE_DEFAULT_PARTITION__ directory and reads the value back as
    // NULL, so a hot tuple encoding to either can never round-trip: its
    // rows would land in a directory the routing predicate can't name
    // and SkewRoute would silently drop them. Refuse loudly instead.
    require(!hotDirs.contains("") && !hotDirs.contains("__HIVE_DEFAULT_PARTITION__"),
      "skewed write: a hot value may not be empty or the reserved " +
        "'__HIVE_DEFAULT_PARTITION__' name — the partitioned sink folds both " +
        "into the null-partition directory, which cannot round-trip for routing")
    // same DML chokepoints as every other writer (SQLStd statement-shape
    // mapping): an Overwrite destroys previous contents -> INSERT+DELETE,
    // an Append only adds -> INSERT
    graft.security.AccessPolicies.check(df.sparkSession, dir, "INSERT")
    if (mode != SaveMode.Append)
      graft.security.AccessPolicies.check(df.sparkSession, dir, "DELETE")
    val meta = SkewMeta(fields.map(_.name), hotDirs)
    if (mode == SaveMode.Append) {
      // an Append under DIFFERENT skew metadata would leave already-written
      // directories routed by the OLD layout while the sidecar describes the
      // new one — silent wrong pruning; the reference forbids altering
      // skewed-info on populated list-bucketed partitions for the same reason
      readSidecar(df.sparkSession, dir).foreach { existing =>
        require(existing.columns.map(_.toLowerCase) == meta.columns.map(_.toLowerCase) &&
                existing.hotDirs == meta.hotDirs,
          s"skewed append: layout mismatch — existing sidecar is SKEWED BY " +
            s"(${existing.columns.mkString(",")}) ON (${existing.hotDirs.toSeq.sorted.mkString("; ")}), " +
            s"append declares (${meta.columns.mkString(",")}) ON (${meta.hotDirs.toSeq.sorted.mkString("; ")}); " +
            "rewrite the table (Overwrite) to change the skew layout")
      }
    }
    // when-chain over the hot tuples: list bucketing is for a HANDFUL of
    // hot tuples (the long tail shares the default dir), so the chain
    // stays short by design — the reference's skewed-info is a small
    // metastore list for the same reason
    val route = skewedTuples.foldLeft(Option.empty[Column]) { (acc, t) =>
      val cond = columns.zip(t).map { case (c, v) => col(c) === v }.reduce(_ && _)
      Some(acc.fold(when(cond, lit(encodeDir(t))))(_.when(cond, lit(encodeDir(t)))))
    }.get.otherwise(lit(Default))
    df.withColumn(DirCol, route)
      .write.mode(mode).partitionBy(DirCol).parquet(dir)
    val spark = df.sparkSession
    writeSidecar(spark, dir, meta)
    SkewCatalog.register(dir, meta)
  }

  /** Read a skewed table: schema is the original one (the routing column
    * is layout, not data), and the layout is (re-)registered so plain
    * filters on the skew columns prune directories transparently. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    readSidecar(spark, dir).foreach(m => SkewCatalog.register(dir, m))
    spark.read.parquet(dir).drop(DirCol)
  }

  private def writeSidecar(spark: SparkSession, dir: String, meta: SkewMeta): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir, sidecarName)
    publish(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path,
      s"""{"columns":[${meta.columns.map(jsonStr).mkString(",")}],""" +
        s""""dirs":[${meta.hotDirs.toSeq.sorted.map(jsonStr).mkString(",")}]}""")
  }

  private[sources] def readSidecar(spark: SparkSession, dir: String): Option[SkewMeta] = {
    val path = new org.apache.hadoop.fs.Path(dir, sidecarName)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return None
    val text = readSmall(fs, path)
    // sidecar is engine-written; parse with the same minimal shape
    val itemRe = """"((?:[^"\\]|\\.)*)"""".r
    def arr(key: String): Option[Seq[String]] =
      (key + """\s*:\s*\[([^\]]*)\]""").r.findFirstMatchIn(text)
        .map(m => itemRe.findAllMatchIn(m.group(1)).map(x => jsonUnescape(x.group(1))).toSeq)
    val current = for {
      cols <- arr("\"columns\"")
      dirs <- arr("\"dirs\"")
    } yield SkewMeta(cols, dirs.toSet)
    // legacy single-column shape ({"column":c,"values":[...]}) from
    // earlier sidecars: values were written UNencoded
    lazy val legacy = for {
      c <- """"column"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(text).map(m => jsonUnescape(m.group(1)))
      vs <- arr("\"values\"")
    } yield SkewMeta(Seq(c), vs.map(v => encodeDir(Seq(v))).toSet)
    current.orElse(legacy)
  }
}

/** Registered skewed-table layouts, keyed by normalized directory — the
  * metastore's skewed-info (org.apache.hadoop.hive.metastore.api
  * .SkewedInfo) analog, consulted by [[graft.plans.SkewRoute]]. */
object SkewCatalog {

  private val byPath = new ConcurrentHashMap[String, SkewedTables.SkewMeta]()

  def register(dir: String, meta: SkewedTables.SkewMeta): Unit =
    byPath.put(graft.PathKeys.normalize(dir), meta)

  def drop(dir: String): Unit = byPath.remove(graft.PathKeys.normalize(dir))
  def clear(): Unit = byPath.clear()
  def isEmpty: Boolean = byPath.isEmpty

  private[graft] def lookup(rootPath: org.apache.hadoop.fs.Path): Option[SkewedTables.SkewMeta] =
    Option(byPath.get(rootPath.toUri.getPath.stripSuffix("/")))
}
