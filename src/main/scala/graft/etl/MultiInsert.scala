package graft.etl

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import graft.SqlText

/** Hive multi-insert (`FROM src INSERT OVERWRITE t1 SELECT ... INSERT
  * INTO t2 SELECT ...`, HiveParser.g:2482-2523; the reference fans one
  * scan out to many FileSinkOperators — SemanticAnalyzer.genBodyPlan
  * iterates destinations). Spark has no single-statement equivalent
  * (SURVEY.md §2.9), so this builder provides the same contract: the
  * source is materialized ONCE (persist at MEMORY_AND_DISK), then each
  * destination writes from the shared result.
  *
  * At 100 TB: naive per-insert re-scan is the failure mode this exists to
  * avoid. If the source exceeds cluster storage, swap persist for
  * checkpoint-to-HDFS or restructure into one pass with a partitioned
  * writer; the API keeps the choice in one place.
  */
final class MultiInsert private (
    src: DataFrame,
    inserts: Vector[(MultiInsert.Target, DataFrame => DataFrame)]) {
  import MultiInsert.{Directory, InsertTable, Target}

  private def queue(t: Target, transform: DataFrame => DataFrame): MultiInsert =
    new MultiInsert(src, inserts :+ (t, transform))

  /** Queue a directory destination: path + per-destination transform. */
  def insert(path: String)(transform: DataFrame => DataFrame): MultiInsert =
    queue(Directory(path), transform)

  def insertIdentity(path: String): MultiInsert = insert(path)(identity)

  /** Queue a catalog-table destination (INSERT OVERWRITE/INTO TABLE —
    * positional column resolution, like Hive; the table must exist). */
  def insertInto(table: String, overwrite: Boolean = false)(
      transform: DataFrame => DataFrame): MultiInsert =
    queue(InsertTable(table, overwrite), transform)

  /** Execute all inserts from a single materialization of the source.
    * Returns rows written per destination — counted by an observation on
    * the write itself, so each destination's transform runs exactly once
    * (a post-write count() would re-run it per sink). */
  def run(format: String = "parquet", mode: String = "overwrite"): Map[String, Long] = {
    require(inserts.nonEmpty, "no insert destinations queued")
    val cached = src.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count() // materialize once before fanning out
      inserts.map { case (target, f) =>
        val obs = Observation()
        val out = f(cached).observe(obs, count(lit(1)).as("rows"))
        target match {
          case Directory(p) => out.write.mode(mode).format(format).save(p)
          case InsertTable(t, ow) =>
            out.write.mode(if (ow) "overwrite" else "append").insertInto(t)
        }
        target.label -> obs.get("rows").asInstanceOf[Long]
      }.toMap
    } finally { cached.unpersist(); () }
  }
}

object MultiInsert {
  def from(src: DataFrame): MultiInsert = new MultiInsert(src, Vector.empty)

  /** Insert destination: a directory path or an existing catalog table. */
  sealed trait Target { def label: String }
  final case class Directory(path: String) extends Target { def label: String = path }
  final case class InsertTable(name: String, overwrite: Boolean) extends Target {
    def label: String = name
  }

  // one alternation per Hive target form (HiveParser.g destination rule):
  // OVERWRITE DIRECTORY 'path' | OVERWRITE TABLE t | INTO [TABLE] t —
  // anchored at a clause start; clause boundaries come from the
  // depth-0 keyword scan of [[graft.SqlText]], NOT from this regex
  private val InsertHead =
    ("""(?is)^INSERT\s+(?:OVERWRITE\s+DIRECTORY\s+'([^']+)'""" +
     """|OVERWRITE\s+TABLE\s+([\w.]+)|INTO\s+(?:TABLE\s+)?([\w.]+))""" +
     """\s+(SELECT\s.*)$""").r

  /** Split a SELECT body into (projection, tail) at the first top-level
    * clause keyword — WHERE, GROUP, ORDER, LIMIT, DISTRIBUTE, SORT,
    * CLUSTER, HAVING — so `SELECT c FROM view` rebuilds as
    * `SELECT c FROM view <tail>` with the tail (if any) after the FROM.
    * Hive's multi-insert grammar puts all of these directly after the
    * projection with no FROM of their own. */
  private def splitBody(body: String): (String, String) = {
    val kws = Seq("where", "group", "order", "limit",
      "distribute", "sort", "cluster", "having")
    SqlText.keywords(body, kws: _*).headOption match {
      case Some(i) => (body.substring(0, i).trim, " " + body.substring(i))
      case None => (body, "")
    }
  }

  /** Hive's multi-insert STATEMENT form (HiveParser.g:2482-2523):
    *
    * {{{
    * FROM <source> INSERT OVERWRITE DIRECTORY 'p1' SELECT ... [WHERE ...]
    *               INSERT OVERWRITE TABLE t1      SELECT ... [WHERE ...]
    *               INSERT INTO TABLE t2           SELECT ... [WHERE ...]
    * }}}
    *
    * The source (a table name or parenthesized subquery, optionally
    * aliased) is planned once and persisted; each INSERT's SELECT runs
    * against the shared materialization — the same one-scan fan-out
    * SemanticAnalyzer.genBodyPlan builds. Returns rows written per
    * destination label (path or table name).
    *
    * Supported grammar subset: each INSERT's body is a projection with an
    * optional top-level WHERE (the split is quote- and paren-aware, so
    * subqueries and string literals containing "where" parse correctly);
    * directory paths are single-quoted and must not themselves contain a
    * single quote; table targets must exist and resolve columns
    * POSITIONALLY (Hive semantics). GROUP BY/ORDER BY tails ride along
    * with the WHERE clause unchanged.
    */
  def sql(spark: org.apache.spark.sql.SparkSession, statement: String,
          format: String = "parquet"): Map[String, Long] = splitFrom(statement) match {
    case Some((src, inserts)) =>
      val srcDf = spark.sql(s"SELECT * FROM $src")
      // toHexString: sign-free (math.abs(Int.MinValue) is negative) and a
      // valid identifier suffix
      val view = s"graft_mi_${Integer.toHexString(statement.hashCode)}"
      srcDf.createOrReplaceTempView(view)
      try {
        // clause boundaries from the quote/paren-aware scan (a string
        // literal containing "insert into ..." must not split a clause),
        // then each clause parses against the anchored head regex
        val offsets = SqlText.keywords(inserts, "insert")
        require(offsets.headOption.contains(0),
          s"expected the destination list to start with INSERT: $inserts")
        val clauses = (offsets :+ inserts.length).sliding(2)
          .map(w => inserts.substring(w(0), w(1)).trim).toVector
        val queued = clauses.foldLeft(from(srcDf)) { (mi, clause) =>
          clause match {
            case InsertHead(path, owTable, intoTable, body) =>
              val target =
                if (path != null) Directory(path)
                else if (owTable != null) InsertTable(owTable, overwrite = true)
                else InsertTable(intoTable, overwrite = false)
              // Hive puts WHERE/GROUP/ORDER... after the projection with
              // no FROM ("SELECT c WHERE p"); rebuild as standard SQL.
              val (proj, tail) = splitBody(body.trim)
              val transform = (df: DataFrame) => { df.createOrReplaceTempView(view)
                df.sparkSession.sql(s"$proj FROM $view$tail") }
              target match {
                case Directory(p) => mi.insert(p)(transform)
                case InsertTable(t, ow) => mi.insertInto(t, ow)(transform)
              }
            case other => throw new IllegalArgumentException(
              s"unparseable INSERT clause: $other")
          }
        }
        queued.run(format)
      } finally { spark.catalog.dropTempView(view); () }
    case _ => throw new IllegalArgumentException(
      "expected: FROM <src> INSERT {OVERWRITE DIRECTORY '<path>' | OVERWRITE TABLE <t> | INTO [TABLE] <t>} SELECT ... [more INSERTs]")
  }

  /** Split `FROM <src> INSERT ...` at the first TOP-LEVEL `INSERT` —
    * the same quote/paren-aware scan the clause boundaries use, so a
    * string literal (or subquery text) in the source containing
    * " insert into " cannot split the statement inside the literal
    * the way a regex split would. */
  private def splitFrom(statement: String): Option[(String, String)] = {
    val t = statement.trim
    if (SqlText.keyword(t, "FROM") != 0) return None
    val rest = t.substring(4)
    SqlText.keywords(rest, "insert").headOption.flatMap { off =>
      val src = rest.substring(0, off).trim
      val inserts = rest.substring(off).trim
      if (src.isEmpty) None else Some((src, inserts))
    }
  }
}
