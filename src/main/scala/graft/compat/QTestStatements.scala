package graft.compat

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SqlText

import QTestReplay._
import QTestRender._

/** Per-statement SQL/text rewrites of the corpus replay — LOAD path
  * resolution, container-file ingestion, insert serializers, CTAS and
  * view column naming, ANALYZE mapping, DML staging. Split from
  * QTestReplay (round 14); behavior unchanged. */
private[compat] object QTestStatements {
  /** Letters-and-digits-only normalization for echo-vs-source alignment
    * checks (the echo strips ';', keeps comments, reflows whitespace). */
  private[compat] def norm(s: String): String =
    s.linesIterator.filterNot(_.trim.startsWith("--")).mkString(" ")
      .toLowerCase.filter(_.isLetterOrDigit).take(80)

  /** Hive's VariableSubstitution (${hiveconf:}/${hivevar:}/${system:}/
    * ${env:}/bare names), innermost-first so nested references resolve.
    * Unresolvable references stay verbatim. */
  private[compat] def substVars(s0: String, conf: scala.collection.Map[String, String]): String = {
    var s = s0
    var changed = true
    var guard = 0
    val Re = "\\$\\{([^${}]+)\\}".r
    while (changed && guard < 20) {
      changed = false; guard += 1
      s = Re.replaceAllIn(s, m => {
        val k = m.group(1)
        val v =
          if (k.startsWith("system:"))
            Option(System.getProperty(k.stripPrefix("system:")))
              .orElse(conf.get(k.toLowerCase))
          else if (k.startsWith("env:")) Option(System.getenv(k.stripPrefix("env:")))
          else if (k.startsWith("hiveconf:")) conf.get(k.stripPrefix("hiveconf:").toLowerCase)
          else if (k.startsWith("hivevar:")) conf.get(k.stripPrefix("hivevar:").toLowerCase)
          else conf.get(k.toLowerCase)
        v match {
          case Some(x) => changed = true; java.util.regex.Matcher.quoteReplacement(x)
          case None => java.util.regex.Matcher.quoteReplacement(m.matched)
        }
      })
    }
    s
  }

  /** LOAD statements point at the harness's data directory through
    * masked relative paths; re-root on the reference's committed files
    * and force LOCAL (copy) so the read-only source is never moved. */
  private[compat] def rewriteLoad(stmt: String, refData: String): String = {
    val tmpBase = System.getProperty("java.io.tmpdir") + "/qtest_tmp"
    val rerooted = "(?i)inpath\\s+['\"]([^'\"]+)['\"]".r.replaceAllIn(stmt, m => {
      val raw = m.group(1).stripPrefix("file:")
      val f = new java.io.File(raw)
      val resolved =
        if (f.exists) raw
        else if (raw.startsWith(tmpBase) && f.getParentFile != null &&
            f.getParentFile.isDirectory &&
            Option(f.getParentFile.listFiles()).exists(_.nonEmpty))
          // a scratch file the replay's own INSERT DIRECTORY produced
          // under engine part-file names — load the directory
          f.getParent
        else {
          // keep any SUBPATH below data/files — constprog_type loads
          // ../../data/files/types/primitives/090101.txt
          val idx = raw.indexOf("data/files/")
          if (idx >= 0) s"$refData/${raw.substring(idx + "data/files/".length)}"
          else s"$refData/${f.getName}"
        }
      java.util.regex.Matcher.quoteReplacement(s"INPATH '$resolved'")
    })
    "(?i)load\\s+data\\s+(local\\s+)?inpath".r
      .replaceFirstIn(rerooted, "LOAD DATA LOCAL INPATH")
  }

  /** `CREATE TABLE t LIKE <core text fixture>` where t is then LOADed
    * with raw text: the replay's fixtures are parquet, so the plain LIKE
    * would make a parquet table that cannot read the loaded .txt —
    * expand the source's resolved schema into the standard
    * LazySimpleSerDe csv mapping instead (the reference's fixtures ARE
    * -delimited text). */
  private[compat] def likeTextCreate(spark: SparkSession, stmt: String,
                             textTables: Set[String]): Option[String] = {
    val Re = ("(?is)^\\s*create\\s+(?:external\\s+)?table\\s+" +
      "(if\\s+not\\s+exists\\s+)?`?([\\w.]+)`?\\s+like\\s+`?([\\w.]+)`?\\s*;?\\s*$").r
    Re.findFirstMatchIn(stmt).flatMap { m =>
      val (ine, t, src) = (m.group(1), m.group(2), m.group(3))
      if (!textTables.contains(t.toLowerCase)) None
      else {
        val catalog = spark.sessionState.catalog
        val meta = catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(src))
        val partCols = meta.partitionColumnNames.map(_.toLowerCase).toSet
        val schema = spark.table(src).schema
        val (parts, data) = schema.fields.partition(f => partCols(f.name.toLowerCase))
        val colList = (data ++ parts).map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        val pb = if (parts.nonEmpty)
          s" PARTITIONED BY (${parts.map(f => s"`${f.name}`").mkString(", ")})" else ""
        Some(s"CREATE TABLE ${if (ine != null) "IF NOT EXISTS " else ""}`$t` ($colList) " +
          "USING csv OPTIONS (sep '\\u0001', quote '\\u0000', nullValue '\\\\N', " +
          s"emptyValue '')$pb")
      }
    }
  }

  /** LOAD DATA of a raw avro/rcfile/sequencefile file into a
    * container-declared table: the table itself is parquet (HiveDdl's
    * container mapping), so the file is READ through the matching
    * vendored reader and INSERTed — same rows, engine-native storage. */
  private[compat] def ingestContainerLoad(spark: SparkSession, stmt: String,
                                  fmt: String, avroLiteral: Option[String]): Unit = {
    val Re = ("(?is)\\s*LOAD\\s+DATA\\s+(?:LOCAL\\s+)?INPATH\\s+'([^']+)'\\s+" +
      "(OVERWRITE\\s+)?INTO\\s+TABLE\\s+`?([\\w.]+)`?(?:\\s+PARTITION\\s*\\(([^)]*)\\))?\\s*").r
    val m = Re.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse LOAD DATA statement: $stmt"))
    val (inpath, overwrite, table) = (m.group(1), m.group(2) != null, m.group(3))
    val partition: Seq[(String, String)] = Option(m.group(4)).map(_.trim).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map { kv =>
        val Array(k, v) = kv.split("=", 2).map(_.trim)
        k -> v.stripPrefix("'").stripSuffix("'")
      }).getOrElse(Nil)
    val full = spark.table(table).schema
    val partNames = partition.map(_._1.toLowerCase).toSet
    val dataSchema = StructType(full.fields.filterNot(f => partNames(f.name.toLowerCase)))
    val df = readContainer(spark, fmt, inpath, dataSchema, avroLiteral)
    val withParts = partition.foldLeft(df) { case (d, (k, v)) =>
      val dt = full.fields.find(_.name.equalsIgnoreCase(k)).map(_.dataType)
        .getOrElse(StringType)
      d.withColumn(k, lit(v).cast(dt))
    }
    withParts.write
      .mode(if (overwrite) org.apache.spark.sql.SaveMode.Overwrite
            else org.apache.spark.sql.SaveMode.Append)
      .insertInto(table)
  }

  private[compat] def readContainer(spark: SparkSession, fmt: String, path: String,
                            schema: StructType,
                            avroLiteral: Option[String]): DataFrame = fmt match {
    case "avro" => graft.sources.AvroIO.readRaw(spark, path, schema, avroLiteral)
    case "rcfile" => graft.sources.RcFileIO.read(spark, path, schema)
    case "sequencefile" => readSequenceText(spark, path, schema)
    case other => throw new IllegalArgumentException(s"unknown container format $other")
  }

  /** A Hive SEQUENCEFILE table's values are LazySimpleSerDe text lines
    * (keys are ignored, exactly as the reference's HiveSequenceFileInput
    * contract) — read them and apply the \u0001-delimited field mapping. */
  private[compat] def readSequenceText(spark: SparkSession, path: String,
                               schema: StructType): DataFrame = {
    import org.apache.hadoop.io.{Text, Writable}
    import org.apache.hadoop.mapred.SequenceFileInputFormat
    val lines = spark.sparkContext.hadoopFile(
        path, classOf[SequenceFileInputFormat[Writable, Text]],
        classOf[Writable], classOf[Text])
      .map { case (_, v) => Row(v.toString) }
    val raw = spark.createDataFrame(lines,
      StructType(Seq(StructField("value", StringType))))
    val fields = split(col("value"), java.util.regex.Pattern.quote("\u0001"))
    raw.select(schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      when(element_at(fields, i + 1) === "\\N", lit(null))
        .otherwise(element_at(fields, i + 1))
        .cast(f.dataType).as(f.name)
    }: _*)
  }

  /** INSERT into an avro-container table reorders map entries: the
    * reference's AvroDeserializer reads maps back through a String-keyed
    * java.util.HashMap, so the committed SELECT outputs show ITS
    * iteration order, not insertion order. Reproduce it at insert time:
    * entries grouped by the HashMap slot `(h ^ (h >>> 16)) & 15`
    * (default capacity 16; corpus maps are far below the resize
    * threshold), insertion order within a slot — `hash` in the compat
    * session is the reference's Text hash, which equals String.hashCode
    * on ASCII keys. */
  private[compat] def avroMapInsertOrder(spark: SparkSession, stmt: String,
      containers: Map[String, (String, Option[String])]): String = {
    val Re = ("(?is)^(\\s*insert\\s+(?:overwrite|into)\\s+table\\s+`?([\\w.]+)`?\\s*" +
      "(?:partition\\s*\\([^)]*\\))?\\s*)((?:select\\b|with\\b(?!\\s+serdeproperties)).*)$").r
    val m = Re.findFirstMatchIn(stmt).getOrElse(return stmt)
    if (!containers.get(m.group(2).toLowerCase).exists(_._1 == "avro")) return stmt
    val inner = m.group(3).trim.stripSuffix(";")
    val fields = (try spark.sql(HiveRewrites(inner)) catch {
      case _: Exception => return stmt
    }).schema.fields
    if (!fields.exists(f => f.dataType match {
      case MapType(StringType, _, _) => true; case _ => false })) return stmt
    def slot = "((hash(__e.key) ^ shiftrightunsigned(hash(__e.key), 16)) & 15)"
    val cols = fields.map { f =>
      val c = s"`${f.name}`"
      f.dataType match {
        case MapType(StringType, _, _) =>
          s"CASE WHEN $c IS NULL THEN NULL ELSE map_from_entries(flatten(transform(" +
            s"array_sort(array_distinct(transform(map_entries($c), __e -> $slot))), " +
            s"__s -> filter(map_entries($c), __e -> $slot = __s)))) END AS $c"
        case _ => c
      }
    }
    s"${m.group(1)} SELECT ${cols.mkString(", ")} FROM ($inner) __avro_ins"
  }

  /** INSERT into char(n)/varchar(n) columns TRUNCATES overflow in the
    * reference (HiveBaseChar.enforceMaxLength); Spark errors
    * (EXCEED_LIMIT_LENGTH). Wrap the SELECT so each char/varchar target
    * position arrives pre-truncated — the typed write then pads chars
    * exactly as the reference's readback renders them. */
  private[compat] def charInsertTruncate(spark: SparkSession, stmt: String): String = {
    val Re = ("(?is)^(\\s*insert\\s+(?:overwrite|into)\\s+(?:table\\s+)?`?([\\w.]+)`?\\s*" +
      "(?:partition\\s*\\(([^)]*)\\))?\\s*)((?:select\\b|with\\b(?!\\s+serdeproperties)).*)$").r
    val m = Re.findFirstMatchIn(stmt).getOrElse(return stmt)
    val full = (try spark.table(m.group(2)) catch {
      case _: Exception => return stmt
    }).schema
    val staticKeys = Option(m.group(3)).toSeq.flatMap(_.split(","))
      .filter(_.contains("=")).map(_.split("=")(0).trim.replace("`", "").toLowerCase).toSet
    val targets = full.fields.filterNot(f => staticKeys(f.name.toLowerCase))
    if (!targets.exists(f => f.dataType.isInstanceOf[CharType] ||
        f.dataType.isInstanceOf[VarcharType])) return stmt
    val inner = m.group(4).trim.stripSuffix(";")
    val innerLen = (try spark.sql(HiveRewrites(inner)) catch {
      case _: Exception => return stmt
    }).schema.length
    if (innerLen != targets.length) return stmt
    val aliases = targets.indices.map(i => s"__chr$i")
    val cols = targets.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case CharType(n) => s"substr(CAST(`__chr$i` AS STRING), 1, $n)"
        case VarcharType(n) => s"substr(CAST(`__chr$i` AS STRING), 1, $n)"
        case _ => s"`__chr$i`"
      }
    }
    s"${m.group(1)} SELECT ${cols.mkString(", ")} FROM ($inner) __chr(${aliases.mkString(", ")})"
  }

  /** `(SELECT <constants> FROM a UNION ALL SELECT <constants> FROM b
    * LIMIT n)`: the reference's global limit drains its two mappers
    * round-robin, materializing n/2 rows from EACH branch — Spark's
    * limit takes the first partitions (all branch 1). Both branches
    * project only constants here (anything else stays untouched: the
    * row CHOICE would be semantics, not physical order), so the
    * per-branch split is the reference's exact multiset. */
  private[compat] def unionLimitRoundRobin(stmt: String): String = {
    val Re = ("(?is)^(.*?\\bfrom\\s*\\(\\s*)(select\\b.*?)\\s+union\\s+all\\s+" +
      "(select\\b.*?)\\s+limit\\s+(\\d+)\\s*(\\).*)$").r
    val m = Re.findFirstMatchIn(stmt).getOrElse(return stmt)
    def balanced(s: String): Boolean = s.count(_ == '(') == s.count(_ == ')')
    def constProj(sel: String): Boolean = {
      val pm = "(?is)^select\\s+(.*?)\\s+from\\s".r.findFirstMatchIn(sel)
        .getOrElse(return false)
      val proj = pm.group(1)
      if (proj.contains("*")) return false
      val noStrings = proj.replaceAll("\"[^\"]*\"|'[^']*'", "")
      val idents = "[A-Za-z_][A-Za-z_0-9]*".r.findAllIn(noStrings)
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      idents.nonEmpty && idents.subsetOf(Set("cast", "as", "char", "varchar",
        "decimal", "date", "timestamp", "true", "false", "null", "string",
        "int", "bigint", "smallint", "tinyint", "float", "double", "boolean"))
    }
    if (!balanced(m.group(2)) || !balanced(m.group(3)) ||
        !constProj(m.group(2)) || !constProj(m.group(3))) return stmt
    val n = m.group(4).toInt
    s"${m.group(1)}(${m.group(2)} LIMIT ${n - n / 2}) UNION ALL " +
      s"(${m.group(3)} LIMIT ${n / 2})${m.group(5)}"
  }

  /** INSERT DIRECTORY of complex-typed columns: the csv sink cannot
    * take them — serialize arrays/maps/structs into their
    * LazySimpleSerDe text forms (u0002/u0003 nested separators,
    * `\N` nulls) so the written bytes match the reference's. */
  /** `FROM t TABLESAMPLE (N ROWS) WHERE <partition predicate>`: the
    * reference prunes PARTITIONS before sampling (SamplePruner runs on
    * the pruned scan), so the N rows come from the matching partitions;
    * Spark samples first and the filter can empty the result. Rewritten
    * to filter-then-limit when the predicate touches only partition
    * columns (row choice stays nondeterministic either way — the
    * nondet downgrade covers WHICH rows, this fixes HOW MANY). */
  private[compat] def sampleRowsPartitionPrune(spark: SparkSession, stmt: String): String = {
    val Re = ("(?is)\\bfrom\\s+([\\w.]+)\\s+tablesample\\s*\\(\\s*(\\d+)\\s+rows\\s*\\)" +
      "\\s+where\\s+([^;]*?)\\s*$").r
    val m = Re.findFirstMatchIn(stmt).getOrElse(return stmt)
    val t = m.group(1)
    val pcols =
      try {
        if (spark.catalog.tableExists(t))
          spark.catalog.listColumns(t).collect().filter(_.isPartition)
            .map(_.name.toLowerCase).toSet
        else Set.empty[String]
      } catch { case _: Exception => Set.empty[String] }
    if (pcols.isEmpty) return stmt
    val cond = m.group(3)
    val idents = "[A-Za-z_]\\w*".r.findAllIn(
      cond.replaceAll("'[^']*'", "")).map(_.toLowerCase).toSet
    if (!(idents -- Set("and", "or", "not")).subsetOf(pcols)) return stmt
    val out = stmt.substring(0, m.start) +
      s"FROM (SELECT * FROM $t WHERE $cond LIMIT ${m.group(2)}) ${t.split("\\.").last}" +
      stmt.substring(m.end)
    try { spark.sql(out).queryExecution.analyzed; out }
    catch { case _: Exception => stmt }
  }

  /** The reference's METADATAONLY optimization
    * (ql/optimizer/MetadataOnlyOptimizer.java): a query whose aggregates
    * are all DISTINCT-style (max/min/count(distinct)/SELECT DISTINCT)
    * over PARTITION columns answers from the partition LIST — one row
    * per declared partition, even when every partition is EMPTY
    * (`max(ds)` after `add partition (ds='1')` is '1', not NULL).
    * Bare count/sum/avg read real rows and are left alone. The rewrite
    * substitutes partitioned-table refs with a VALUES table of the
    * catalog's partition tuples and keeps it only if the result still
    * analyzes (a data-column reference fails resolution, restoring the
    * original). */
  private[compat] def metadataOnlyRewrite(spark: SparkSession, stmt: String): String = {
    val distinctish =
      "(?is)\\b(max|min)\\s*\\(".r.findFirstIn(stmt).isDefined ||
      "(?is)\\bcount\\s*\\(\\s*distinct\\b".r.findFirstIn(stmt).isDefined ||
      "(?is)\\bselect\\s+distinct\\b".r.findFirstIn(stmt).isDefined
    if (!distinctish) return stmt
    if ("(?is)\\bcount\\s*\\(\\s*(?!distinct)".r.findFirstIn(stmt).isDefined ||
        "(?is)\\b(sum|avg|collect_\\w+|percentile\\w*)\\s*\\(".r
          .findFirstIn(stmt).isDefined) return stmt
    val Ref = "(?is)\\b(from|join)\\s+([\\w.]+)\\b".r
    var out = stmt
    var changed = false
    Ref.findAllMatchIn(stmt).toSeq.reverse.foreach { m =>
      val t = m.group(2)
      val pcols =
        try {
          if (spark.catalog.tableExists(t))
            spark.catalog.listColumns(t).collect().filter(_.isPartition).toSeq
          else Seq.empty
        } catch { case _: Exception => Seq.empty }
      if (pcols.nonEmpty) {
        val names = pcols.map(_.name)
        val parts =
          try spark.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0)).toSeq
          catch { case _: Exception => Seq.empty[String] }
        val rows = parts.map { ps =>
          val kv = ps.split("/").map { seg =>
            val i = seg.indexOf('=')
            seg.substring(0, i).toLowerCase ->
              java.net.URLDecoder.decode(seg.substring(i + 1), "UTF-8")
          }.toMap
          names.map(n => "'" + kv.getOrElse(n.toLowerCase, "")
            .replace("'", "''") + "'").mkString("(", ", ", ")")
        }
        val derived =
          if (rows.isEmpty)
            "(SELECT " + names.zip(pcols.map(_.dataType)).map { case (n, dt) =>
              s"CAST(NULL AS $dt) AS `$n`" }.mkString(", ") + " WHERE false)"
          else
            "(SELECT " + names.zip(pcols.map(_.dataType)).map { case (n, dt) =>
              s"CAST(`$n` AS $dt) AS `$n`" }.mkString(", ") +
              s" FROM (VALUES ${rows.mkString(", ")}) AS " +
              s"__mo(${names.map(n => s"`$n`").mkString(", ")}))"
        val after = stmt.substring(m.end)
        val stop = "(?is)^\\s+(where|group|order|sort|cluster|distribute|" +
          "limit|union|having|on|join|left|right|full|inner|cross|lateral|select)\\b"
        val hasAlias = "(?is)^\\s+\\w+".r.findFirstIn(after).isDefined &&
          stop.r.findFirstIn(after).isEmpty
        val repl = s"${m.group(1)} $derived" +
          (if (hasAlias) "" else s" ${t.split("\\.").last}")
        out = out.substring(0, m.start) + repl + out.substring(m.end)
        changed = true
      }
    }
    if (!changed) return stmt
    try { spark.sql(out).queryExecution.analyzed; out }
    catch { case _: Exception => stmt }
  }

  /** Serialize one column to LazySimpleSerDe text (write side):
    * nested-delimiter complex forms, base64 binary, CAST text scalars.
    * `sepOf(level)` supplies the per-level separator as a SQL literal. */
  private[compat] def serializeField(c: String, dt: DataType, level: Int,
      sepOf: Int => String, nullRep: String): String = dt match {
    case ArrayType(et, _) =>
      s"array_join(transform($c, __s$level -> " +
        s"${serializeField(s"__s$level", et, level + 1, sepOf, nullRep)}), " +
        s"${sepOf(level)}, '${HiveRewrites.escapeSqlBody(nullRep)}')"
    case MapType(kt, vt, _) =>
      s"array_join(transform(map_entries($c), __m$level -> concat(" +
        s"coalesce(${serializeField(s"__m$level.key", kt, level + 2, sepOf, nullRep)}, " +
        s"'${HiveRewrites.escapeSqlBody(nullRep)}'), ${sepOf(level + 1)}, " +
        s"coalesce(${serializeField(s"__m$level.value", vt, level + 2, sepOf, nullRep)}, " +
        s"'${HiveRewrites.escapeSqlBody(nullRep)}'))), ${sepOf(level)}, " +
        s"'${HiveRewrites.escapeSqlBody(nullRep)}')"
    case st: StructType =>
      val parts = st.fields.map(f =>
        s"coalesce(${serializeField(s"$c.`${f.name}`", f.dataType, level + 1, sepOf, nullRep)}, " +
          s"'${HiveRewrites.escapeSqlBody(nullRep)}')")
      s"CASE WHEN $c IS NULL THEN NULL ELSE " +
        s"concat_ws(${sepOf(level)}, ${parts.mkString(", ")}) END"
    case BinaryType => s"base64($c)" // LazyUtils writes binary as base64
    case _ => s"CAST($c AS STRING)"
  }

  /** INSERT into a view-backed text table: write the serialized LINES
    * into its `__lines` table instead — the parsing view then reads the
    * rows back with full LazySimpleSerDe fidelity (empty strings stay
    * empty, NULL is the declared null rep, complex types nest). */
  private[compat] def textInsertToLines(spark: SparkSession, stmt0: String,
      viewBacked: scala.collection.Map[String, String]): String = {
    if (viewBacked.isEmpty) return stmt0
    // FROM-first single-insert restructures to the standard spelling
    val FromRe = ("(?is)^\\s*from\\s+(.*?)\\s+insert\\s+(overwrite|into)\\s+" +
      "table\\s+([\\w.`]+)\\s+(select\\b.*)$").r
    val stmt = FromRe.findFirstMatchIn(stmt0) match {
      case Some(m)
          if "(?is)\\binsert\\s".r.findAllMatchIn(stmt0).size == 1 &&
            viewBacked.contains(m.group(3).replace("`", "").toLowerCase) =>
        val sel = m.group(4).trim.stripSuffix(";")
        s"INSERT ${m.group(2)} TABLE ${m.group(3)} $sel FROM ${m.group(1)}"
      case _ => stmt0
    }
    val Re = ("(?is)^\\s*insert\\s+(overwrite|into)\\s+table\\s+([\\w.`]+)\\s+" +
      "((?:select|with|values)\\b.*)$").r
    val m = Re.findFirstMatchIn(stmt).getOrElse(return stmt)
    val target = m.group(2).replace("`", "").toLowerCase
    val createStmt = viewBacked.getOrElse(target, return stmt)
    val params = HiveDdl.textSerParams(createStmt).getOrElse(return stmt)
    val (sep, collD, mkD, nullRep) = params
    def sepOf(level: Int): String = {
      val ch = level match {
        case 1 => collD
        case 2 => mkD
        case n => (n + 1).toChar
      }
      s"'${HiveRewrites.escapeSqlBody(ch.toString)}'"
    }
    val schema = spark.table(target).schema
    val inner0 = m.group(3).trim.stripSuffix(";")
    val inner1 = if (inner0.toLowerCase.startsWith("values")) s"SELECT * FROM ($inner0)"
      else inner0
    // a SELF-insert (query reads the target view, which reads the very
    // lines table being overwritten) materializes through a stage table
    val selfRead = ("(?i)\\b" + java.util.regex.Pattern.quote(target) + "\\b").r
      .findFirstIn(inner1).isDefined
    val inner =
      if (!selfRead) inner1
      else {
        spark.sql("DROP TABLE IF EXISTS qtest_textins_stage")
        try { // a killed prior run can leave the managed location behind
          val db = spark.catalog.getDatabase(spark.catalog.currentDatabase)
          val loc = new Path(new Path(db.locationUri), "qtest_textins_stage")
          val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(loc)) fs.delete(loc, true)
        } catch { case _: Exception => }
        spark.sql(s"CREATE TABLE qtest_textins_stage USING parquet AS $inner1")
        "SELECT * FROM qtest_textins_stage"
      }
    val aliases = schema.fields.indices.map(i => s"__d$i")
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      s"coalesce(${serializeField(s"`__d$i`", f.dataType, 1, sepOf, nullRep)}, " +
        s"'${HiveRewrites.escapeSqlBody(nullRep)}')"
    }
    val line = s"concat_ws('${HiveRewrites.escapeSqlBody(sep)}', ${cols.mkString(", ")})"
    s"INSERT ${m.group(1)} TABLE `${HiveDdl.linesTable(target)}` " +
      s"SELECT $line FROM ( $inner ) __ti(${aliases.mkString(", ")})"
  }

  private[compat] def dirInsertTextSerialize(spark: SparkSession, stmt: String): String = {
    val Re = ("(?is)^(\\s*insert\\s+overwrite\\s+(?:local\\s+)?directory\\s+'[^']+'" +
      "\\s*(?:row\\s+format\\b.*?)??)\\s*((?:select\\b|with\\b(?!\\s+serdeproperties)).*)$").r
    val m = Re.findFirstMatchIn(stmt).getOrElse(return stmt)
    val inner = m.group(2).trim.stripSuffix(";")
    val fields = (try spark.sql(HiveRewrites(inner)) catch {
      case _: Exception => return stmt
    }).schema.fields
    def complex(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType => true
      case _ => false
    }
    if (!fields.exists(f => complex(f.dataType) || f.dataType == NullType))
      return stmt
    // declared COLLECTION ITEMS / MAP KEYS delimiters (clause or
    // serdeproperties spelling — incl. the reference's 'colelction'
    // typo) override the default u0002/u0003 nesting separators
    def prop(key: String): Option[String] =
      ("'" + key + "'\\s*=\\s*'([^']*)'").r.findFirstMatchIn(m.group(1))
        .map(x => HiveRewrites.unescapeSqlBody(x.group(1)))
    val collDelim = "(?is)collection\\s+items\\s+terminated\\s+by\\s+'([^']*)'".r
      .findFirstMatchIn(m.group(1)).map(x => HiveRewrites.unescapeSqlBody(x.group(1)))
      .orElse(prop("colelction.delim")).orElse(prop("collection.delim"))
    val mapkeyDelim = "(?is)map\\s+keys\\s+terminated\\s+by\\s+'([^']*)'".r
      .findFirstMatchIn(m.group(1)).map(x => HiveRewrites.unescapeSqlBody(x.group(1)))
      .orElse(prop("mapkey.delim"))
    def sep(level: Int): String = level match {
      case 1 if collDelim.isDefined =>
        "'" + HiveRewrites.escapeSqlBody(collDelim.get) + "'"
      case 2 if mapkeyDelim.isDefined =>
        "'" + HiveRewrites.escapeSqlBody(mapkeyDelim.get) + "'"
      case _ => s"chr(${level + 1})"
    }
    def ser(c: String, dt: DataType, level: Int): String = dt match {
      case ArrayType(et, _) =>
        s"array_join(transform($c, __x$level -> " +
          s"${ser(s"__x$level", et, level + 1)}), ${sep(level)}, '\\\\N')"
      case MapType(kt, vt, _) =>
        s"array_join(transform(map_entries($c), __e$level -> concat(" +
          s"coalesce(${ser(s"__e$level.key", kt, level + 2)}, '\\\\N'), ${sep(level + 1)}, " +
          s"coalesce(${ser(s"__e$level.value", vt, level + 2)}, '\\\\N'))), ${sep(level)}, '\\\\N')"
      case st: StructType =>
        val parts = st.fields.map(f =>
          s"coalesce(${ser(s"$c.`${f.name}`", f.dataType, level + 1)}, '\\\\N')")
        s"CASE WHEN $c IS NULL THEN NULL ELSE concat_ws(${sep(level)}, ${parts.mkString(", ")}) END"
      case _ => s"CAST($c AS STRING)"
    }
    // DelimitedJSONSerDe: complex values render as JSON text instead of
    // nested-delimiter form (primitives stay raw)
    val jsonComplex = "(?i)DelimitedJSONSerDe".r.findFirstIn(m.group(1)).isDefined
    val aliases = fields.indices.map(i => s"__d$i")
    val cols = fields.zipWithIndex.map { case (f, i) =>
      if (f.dataType == NullType) s"CAST(`__d$i` AS STRING)" // csv rejects VOID
      else if (!complex(f.dataType)) s"`__d$i`"
      else if (jsonComplex) s"to_json(`__d$i`)"
      else ser(s"`__d$i`", f.dataType, 1)
    }
    s"${m.group(1)} SELECT ${cols.mkString(", ")} FROM ($inner) __dir(${aliases.mkString(", ")})"
  }

  /** The harness's test authorizer
    * (SQLStdHiveAuthorizationValidatorForTest.java:122) applies a fixed
    * masking policy: table `masking_test` reads through the row filter
    * `key % 2 = 0 and key < 10` with `value` reversed;
    * `masking_test_subq` through a correlated src-membership filter.
    * Reproduce as a derived-table rewrite when the corpus SET that
    * authorizer. */
  private[compat] def maskingTestRewrite(spark: SparkSession, stmt: String): String = {
    if (!stmt.toLowerCase(java.util.Locale.ROOT).contains("masking_test")) return stmt
    val Re = ("(?is)\\b(from|join)\\s+(?:default\\.)?(masking_test(?:_subq)?)\\b" +
      "(?!\\s*(?:\\.|\\())" +
      "(\\s+tablesample\\s*\\(([^)]*)\\))?" +
      "(\\s+(?:as\\s+)?(?!(?i:tablesample|where|group|order|limit|having|union|intersect|except|join|on|sort|cluster|distribute|left|right|full|inner|cross|lateral|select|from)\\b)(\\w+))?").r
    Re.replaceAllIn(stmt, m => {
      val t = m.group(2).toLowerCase(java.util.Locale.ROOT)
      val alias = Option(m.group(6)).getOrElse(t)
      // a trailing TABLESAMPLE (n ROWS) moves INSIDE the derived table,
      // onto the base relation: the reference samples the SCAN first and
      // applies the authorization row filter above it (masking_5's
      // golden keeps only the filter survivors of the 10 sampled rows)
      val samp = Option(m.group(4))
        .map(body => s" tablesample ($body)").getOrElse("")
      val derived = t match {
        case "masking_test" =>
          val cols = (try spark.table(t).columns.toSeq catch {
            case _: Exception => Seq.empty
          }).map {
            case c if c.equalsIgnoreCase("value") => "reverse(value) AS value"
            case c => s"`$c`"
          }
          if (cols.isEmpty) m.matched
          else s"${m.group(1)} (SELECT ${cols.mkString(", ")} FROM masking_test$samp " +
            s"WHERE key % 2 = 0 and key < 10) $alias"
        case _ =>
          s"${m.group(1)} (SELECT * FROM masking_test_subq$samp WHERE key in " +
            s"(select key from src where src.key = masking_test_subq.key)) $alias"
      }
      java.util.regex.Matcher.quoteReplacement(derived)
    })
  }

  /** Hive's bare `COMPUTE STATISTICS FOR COLUMNS` means every column;
    * Spark spells that `FOR ALL COLUMNS`. */
  private[compat] def rewriteAnalyze(stmt: String): String = rewriteAnalyze(stmt, null)

  private[compat] def rewriteAnalyze(stmt: String, spark: SparkSession): String =
    if ("(?is)^\\s*analyze\\s".r.findFirstIn(stmt).isEmpty) stmt
    else {
      // partialscan gathers a stats subset; the nearest statement shape
      // here is NOSCAN (the stats VALUES are presentation, never rows)
      val noscan = "(?is)compute\\s+statistics\\s+partialscan\\s*$".r
        .replaceFirstIn(stmt.trim, "COMPUTE STATISTICS NOSCAN")
      val cols = "(?is)for\\s+columns\\s*$".r
        .replaceFirstIn(noscan.trim, "FOR ALL COLUMNS")
      // a view-backed text table cannot be ANALYZEd — the stats land on
      // its lines table instead (the VALUES are presentation either way)
      val T = "(?is)^(\\s*analyze\\s+table\\s+`?)([\\w.]+)(`?\\s)".r
      T.findFirstMatchIn(cols) match {
        case Some(m) if spark != null && {
            val t = m.group(2)
            val twin = HiveDdl.linesTable(t)
            (try spark.catalog.tableExists(twin) catch { case _: Exception => false }) &&
              (try spark.catalog.getTable(t).tableType == "VIEW"
               catch { case _: Exception => false })
          } =>
          // column stats of the view's columns don't exist on the lines
          // table — plain row stats are the faithful subset
          val base = s"ANALYZE TABLE `${HiveDdl.linesTable(m.group(2))}` COMPUTE STATISTICS"
          if ("(?is)for\\s+(all\\s+)?columns".r.findFirstIn(cols).isDefined) base
          else if ("(?is)noscan".r.findFirstIn(cols).isDefined) base + " NOSCAN"
          else base
        case _ => cols
      }
    }

  /** ANALYZE ... FOR COLUMNS over a table with char/varchar columns:
    * re-issue listing only the types Spark's column stats support. */
  private[compat] def analyzeSupportedColumns(spark: SparkSession, stmt: String): Boolean = {
    val Re = ("(?is)^\\s*(analyze\\s+table\\s+`?([\\w.]+)`?" +
      "(?:\\s+partition\\s*\\([^)]*\\))?\\s+compute\\s+statistics)\\s+for\\s+.*$").r
    val m = Re.findFirstMatchIn(stmt).getOrElse(return false)
    val cols = spark.table(m.group(2)).schema.fields
      .filterNot(f => f.dataType.isInstanceOf[CharType] ||
        f.dataType.isInstanceOf[VarcharType])
      .map(f => s"`${f.name}`")
    if (cols.isEmpty) spark.sql(m.group(1))
    else spark.sql(s"${m.group(1)} FOR COLUMNS ${cols.mkString(", ")}")
    true
  }

  /** The reference's INSERT OVERWRITE stages its output and swaps, so
    * `INSERT OVERWRITE TABLE t SELECT ... FROM t` is well-defined (the
    * SELECT sees the OLD rows). Spark's v1 overwrite refuses to read the
    * target; reproduce the reference's staging explicitly: materialize
    * the SELECT, then overwrite from the stage. */
  private[compat] def stagedSelfOverwrite(spark: SparkSession, stmt: String): Boolean = {
    val m = "(?is)^\\s*insert\\s+overwrite\\s+table\\s+([\\w.`]+)\\s*(partition\\s*\\([^)]*\\))?\\s*(select\\b.*)$"
      .r.findFirstMatchIn(stmt).getOrElse(return false)
    val (table, part, select) = (m.group(1), Option(m.group(2)).getOrElse(""), m.group(3))
    val stage = "qtest_overwrite_stage"
    spark.sql(s"DROP TABLE IF EXISTS $stage")
    try {
      spark.sql(s"CREATE TABLE $stage USING parquet AS $select")
      spark.sql(s"INSERT OVERWRITE TABLE $table $part SELECT * FROM $stage")
      true
    } finally { spark.sql(s"DROP TABLE IF EXISTS $stage"); () }
  }

  /** The reference names unaliased view output expressions `_c<pos>`
    * (SemanticAnalyzer getColumnInternalName); Spark instead REFUSES a
    * permanent view whose auto-generated names aren't identifiers. Give
    * the view an explicit column list built from the defining query's
    * RESOLVED schema: identifier-shaped names (column refs, aliases)
    * pass through, everything else becomes the positional `_c<i>`.
    * Views already carrying a column list pass through untouched. */
  /** The reference resolves a multipart name COLUMN-FIRST: in
    * `select default.src.`end`.key from s` (struct_in_view), `default`
    * is a COLUMN of s (with nested struct fields), not the `default`
    * database. Spark tries the database interpretation and fails —
    * qualify the path with the FROM table when that table really has a
    * `default` column. */
  private[compat] def columnFirstQualify(spark: SparkSession, stmt: String): String = {
    if ("(?i)(?<![\\w.`])default\\s*\\.".r.findFirstIn(stmt).isEmpty) return stmt
    val fm = "(?is)\\bfrom\\s+`?(\\w+)`?\\s*$".r.findFirstMatchIn(stmt)
      .orElse("(?is)\\bfrom\\s+`?(\\w+)`?\\b".r.findFirstMatchIn(stmt))
      .getOrElse(return stmt)
    val t = fm.group(1)
    val hasCol =
      try spark.table(t).columns.exists(_.equalsIgnoreCase("default"))
      catch { case _: Exception => false }
    if (!hasCol) return stmt
    // backticked `default` so HiveRewrites's default-DATABASE-qualifier
    // strip leaves the column path alone
    "(?i)(?<![\\w.`])default\\s*\\.".r
      .replaceAllIn(stmt, java.util.regex.Matcher.quoteReplacement(s"`$t`.`default`."))
  }

  private[compat] def hiveViewColumns(spark: SparkSession, stmt: String): String = {
    val Re = "(?is)^\\s*(create\\s+(?:or\\s+replace\\s+)?view\\s+(?:if\\s+not\\s+exists\\s+)?[\\w.`]+)\\s+as\\s+(.*)$".r
    Re.findFirstMatchIn(stmt) match {
      case Some(m) =>
        val q = m.group(2)
        val analyzed = spark.sql(q)
        val fields0 = analyzed.schema.fieldNames
        // the reference treats an EXPLICIT alias shaped like its own
        // internal names (`_c<digits>`) on a plain column reference as
        // internal: the stored view schema keeps the COLUMN name
        // (view_alias's `select key as _c1, '12'` stores (key, _c1) —
        // the '12' takes the positional name, the alias is dropped)
        val fields = {
          import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
          import org.apache.spark.sql.catalyst.plans.logical.Project
          val exprs = analyzed.queryExecution.analyzed match {
            case Project(pl, _) => pl
            case p => p.output
          }
          fields0.zipWithIndex.map { case (n, i) =>
            if (n.matches("_c\\d+") && i < exprs.length) exprs(i) match {
              case Alias(ar: AttributeReference, a) if a == n => ar.name
              case _ => n
            } else n
          }
        }
        // auto-generated expression names (parens/spaces/commas, or a
        // literal's own text) become the reference's positional _c<i>;
        // REAL quoted identifiers — however odd (`x+1`) — keep their
        // names; duplicate names (repeated unaliased literals) rename
        // from the second occurrence
        def autoGen(n: String): Boolean =
          n.exists(c => c == '(' || c == ' ' || c == ',') ||
            !n.matches("[A-Za-z_`].*")
        val dupIdx = fields.zipWithIndex.groupBy(_._1).values
          .flatMap(_.drop(1).map(_._2)).toSet
        if (fields.sameElements(fields0) &&
            fields.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")) && dupIdx.isEmpty) stmt
        else {
          val names = fields.zipWithIndex.map { case (n, i) =>
            if (autoGen(n) || dupIdx(i)) s"`_c$i`" else s"`${n.replace("`", "``")}`"
          }
          s"${m.group(1)} (${names.mkString(", ")}) AS $q"
        }
      case None => stmt
    }
  }

  /** CTAS whose select list carries unaliased-expression or duplicate
    * output names: the reference names those columns `c<pos>` (note: no
    * underscore — masking_8's `create table t as select key, '12' ...`
    * stores key, c1..c10), where Spark would either keep the literal
    * text or reject duplicates. */
  private[graft] def ctasHiveColumns(spark: SparkSession, sql: String): String = {
    // HiveDdl.translate emits the CTAS WITHOUT the optional AS keyword
    // (Spark's grammar accepts `CREATE TABLE t USING parquet select ...`)
    val Re = "(?is)^\\s*(create\\s+table\\s+.*?)\\s(?:as\\s+)?((?:select|with)\\b.*)$".r
    val m = Re.findFirstMatchIn(sql).getOrElse(return sql)
    val q = m.group(2).trim.stripSuffix(";")
    val fields =
      try spark.sql(q).schema.fieldNames
      catch {
        case e: Exception =>
          if (Files.exists(Paths.get("/tmp/qtest_debug")))
            println(s"[dbg] ctas analyze failed: ${e.toString.take(200)}")
          return sql
      }
    def autoGen(n: String): Boolean =
      n.exists(c => c == '(' || c == ' ' || c == ',') ||
        !n.matches("[A-Za-z_`].*")
    val dupIdx = fields.zipWithIndex.groupBy(_._1).values
      .flatMap(_.drop(1).map(_._2)).toSet
    if (!fields.exists(autoGen) && dupIdx.isEmpty) return sql
    val names = fields.zipWithIndex.map { case (n, i) =>
      if (autoGen(n) || dupIdx(i)) s"`c$i`" else s"`${n.replace("`", "``")}`"
    }
    val out = s"${m.group(1)} AS SELECT * FROM ($q) graft_ctas(${names.mkString(", ")})"
    if (Files.exists(Paths.get("/tmp/qtest_debug")))
      println(s"[dbg] ctas rewrite: $out")
    out
  }

  /** ACID DML over catalog tables, reproduced on the engine's staged
    * copy-on-write idea at the SQL level (the reference's
    * UpdateDeleteSemanticAnalyzer rewrites DML onto INSERT OVERWRITE the
    * same way): materialize the post-image, then overwrite the whole
    * table from the stage. STATIC overwrite mode for the swap — dynamic
    * mode would leave a fully-deleted partition untouched. */
  private[compat] def runDml(spark: SparkSession, stmt: String): Boolean = {
    val del = "(?is)^\\s*delete\\s+from\\s+([\\w.`]+)\\s*(?:where\\s+(.*?))?\\s*$".r
    val upd = "(?is)^\\s*update\\s+([\\w.`]+)\\s+set\\s+(.*?)(?:\\s+where\\s+(.*?))?\\s*$".r
    def staged(table: String, postImage: String): Boolean = {
      val stage = "qtest_dml_stage"
      val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql(s"DROP TABLE IF EXISTS $stage")
      try {
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        spark.sql(s"CREATE TABLE $stage USING parquet AS $postImage")
        spark.sql(s"INSERT OVERWRITE TABLE $table SELECT * FROM $stage")
        true
      } finally {
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        spark.sql(s"DROP TABLE IF EXISTS $stage"); ()
      }
    }
    stmt match {
      case del(t, w) =>
        val cond = Option(w).getOrElse("true") // bare DELETE removes every row
        staged(t, s"SELECT * FROM $t WHERE NOT coalesce(($cond), false)")
      case upd(t, setList, w) =>
        val cond = Option(w).getOrElse("true")
        val assigns = SqlText.split(setList).map { a =>
          val eq = a.indexOf('=')
          require(eq > 0, s"unparseable SET assignment: $a")
          a.substring(0, eq).trim.replace("`", "").toLowerCase -> a.substring(eq + 1).trim
        }.toMap
        // SQL simultaneous assignment: every expression sees the
        // ORIGINAL row (one projection, conditions included)
        val cols = spark.table(t).columns.toSeq
        require(assigns.keySet.subsetOf(cols.map(_.toLowerCase).toSet),
          s"UPDATE of non-existent columns: ${assigns.keySet -- cols.map(_.toLowerCase)}")
        val sel = cols.map { c =>
          assigns.get(c.toLowerCase)
            .map(v => s"CASE WHEN coalesce(($cond), false) THEN ($v) ELSE `$c` END AS `$c`")
            .getOrElse(s"`$c`")
        }.mkString(", ")
        staged(t, s"SELECT $sel FROM $t")
      case _ => false
    }
  }
}
