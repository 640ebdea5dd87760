package graft.compat

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SqlText

/** .q-side statement recovery: the echo in .q.out masks LOAD paths
  * and locations, so DDL replay reads the original statements and
  * aligns them 1:1 with the .q.out blocks (set/dfs/add commands make
  * no blocks and are dropped). Split from QTestReplay (round 14);
  * behavior unchanged. */
private[compat] object QTestSource {

  /** Split a .q file into executable statements (a ';' split outside
    * literals and comments, [[graft.SqlText]]; set/reset/dfs/add/delete
    * commands — which produce no .q.out block — removed). */
  def parseQ(text: String): Seq[String] = statements(text).filterNot(isCliCommand)

  /** Every ';'-separated statement, its `--` comment lines dropped. */
  private def statements(text: String): Seq[String] =
    SqlText.split(text, ';')
      .map(s => s.linesIterator.filterNot(_.trim.startsWith("--")).mkString("\n").trim)
      .filter(_.nonEmpty)

  private[compat] def isCliCommand(s: String): Boolean = {
    val ws = s.split("[\\s=]+", 3).map(_.toLowerCase)
    val w = ws.head
    // `delete`/`add`/`list` are CLI resource commands ONLY when the
    // operand is jar/file/archive — `delete from t` is SQL DML
    val resource = ws.lift(1).exists(o =>
      Set("jar", "jars", "file", "files", "archive", "archives")(o))
    Set("set", "reset", "dfs")(w) ||
      (Set("add", "delete", "list")(w) && resource)
  }

  /** Like [[parseQ]] but keeps each statement's preceding `dfs` commands
    * (mkdir/copyFromLocal/rmr create the files later statements read;
    * they produce no .q.out block). */
  def parseQWithCommands(text: String): Seq[(Seq[String], String)] = {
    val out = Seq.newBuilder[(Seq[String], String)]
    var pending = Seq.newBuilder[String]
    // split as parseQ does, but partition instead of dropping
    statements(text).foreach { s =>
      if (s.toLowerCase.startsWith("dfs") ||
          // `reset [-d] [keys...]` is conf state the echo mirror tracks
          "(?is)^reset\\b".r.findFirstIn(s).isDefined ||
          "(?is)^(set|add\\s+file)\\s".r.findFirstIn(s).isDefined) pending += s
      else if (isCliCommand(s)) ()
      else { out += ((pending.result(), s)); pending = Seq.newBuilder[String] }
    }
    out.result()
  }

  /** Commands AFTER the last statement of a .q file — valueless
    * `set <key>` echoes there append `key=value` lines to the final
    * block's committed output (SetProcessor's echo carries no
    * PREHOOK marker of its own). */
  def parseQTrailingCommands(text: String): Seq[String] =
    parseQWithCommands(text + ";\n__graft_sentinel__;")
      .lastOption.filter(_._2 == "__graft_sentinel__")
      .map(_._1).getOrElse(Seq.empty)

  /** Harness `set key=value` commands both replay lanes honor as
    * semantic switches, mirrored onto the session (the .q.out echo
    * carries no SET blocks, so these ride the aligned .q statements). */
  private[compat] def mirrorSetConf(spark: SparkSession,
      localConf: scala.collection.mutable.Map[String, String],
      c: String): Unit =
    if ("(?is)^set\\s".r.findFirstIn(c).isDefined) {
      val kv = c.replaceFirst("(?is)^set\\s+", "").split("=", 2)
      if (kv.length == 2) {
        localConf(kv(0).trim.toLowerCase) = kv(1).trim.toLowerCase
        // quoted-identifier mode maps onto Spark's regex-column conf
        if (kv(0).trim.equalsIgnoreCase("hive.support.quoted.identifiers"))
          spark.conf.set("spark.sql.parser.quotedRegexColumnNames",
            kv(1).trim.equalsIgnoreCase("none").toString)
        // positional alias confs map onto Spark's ordinal confs
        if (kv(0).trim.equalsIgnoreCase("hive.groupby.position.alias") ||
            kv(0).trim.equalsIgnoreCase("hive.groupby.orderby.position.alias")) {
          spark.conf.set("spark.sql.groupByOrdinal", kv(1).trim.toLowerCase)
          if (kv(0).trim.toLowerCase.contains("orderby"))
            spark.conf.set("spark.sql.orderByOrdinal", kv(1).trim.toLowerCase)
        }
        if (kv(0).trim.equalsIgnoreCase("hive.orderby.position.alias"))
          spark.conf.set("spark.sql.orderByOrdinal", kv(1).trim.toLowerCase)
        if (kv(0).trim.equalsIgnoreCase("hive.int.timestamp.conversion.in.seconds"))
          spark.conf.set("graft.compat.int.ts.seconds", kv(1).trim.toLowerCase)
        // env-var NAMES are case-sensitive — keep the raw spelling
        if (kv(0).trim.equalsIgnoreCase("hive.script.operator.id.env.var"))
          spark.conf.set("graft.compat.script.id.var", kv(1).trim)
      }
    }

  /** `add file <path>` harness commands: resolve to the reference
    * checkout (relative ../../ paths; hdfs:/// staging of data/scripts
    * files) and remember basename -> absolute path, so TRANSFORM
    * commands that exec the bare basename (the reference distributes
    * added files into the work dir) find the real script. */
  private[compat] def registerAddFile(c: String, refData: String,
      reg: scala.collection.mutable.Map[String, String]): Unit =
    "(?is)^add\\s+file\\s+(\\S+)\\s*$".r.findFirstMatchIn(c.trim).foreach { m =>
      val raw = m.group(1)
      val refRoot = Paths.get(refData).getParent.getParent.toString
      val base = raw.substring(raw.lastIndexOf('/') + 1)
      val candidates = Seq(
        if (raw.startsWith("../../")) refRoot + "/" + raw.stripPrefix("../../")
        else if (raw.contains(":/")) s"$refRoot/data/scripts/$base"
        else raw)
      candidates.find(pp => Files.exists(Paths.get(pp)))
        .foreach { pp =>
          // the reference's corpus scripts are Python 2; only python3
          // exists here — shim bare print statements into calls
          if (base.endsWith(".py")) {
            val src = new String(Files.readAllBytes(Paths.get(pp)), UTF_8)
            val fixed = src.linesIterator.map { l =>
              "^(\\s*)print\\s+(.+)$".r.replaceAllIn(l,
                m => java.util.regex.Matcher.quoteReplacement(
                  s"${m.group(1)}print(${m.group(2)})"))
            }.mkString("\n").replace("xrange(", "range(")
            if (fixed != src) {
              val dir = Paths.get(System.getProperty("java.io.tmpdir"),
                "qtest_tmp", "scripts")
              Files.createDirectories(dir)
              val out = dir.resolve(base)
              Files.write(out, fixed.getBytes(UTF_8))
              reg(base) = out.toString
            } else reg(base) = pp
          } else reg(base) = pp
        }
    }

  /** Re-point bare script basenames inside TRANSFORM statements at
    * their registered absolute paths. */
  private[compat] def resolveScripts(stmt: String,
      reg: scala.collection.Map[String, String]): String =
    if (reg.isEmpty || "(?i)\\busing\\b".r.findFirstIn(stmt).isEmpty) stmt
    else reg.foldLeft(stmt) { case (s0, (base, abs)) =>
      s0.replaceAll(
        "(?<=['\"\\s])" + java.util.regex.Pattern.quote(base) + "(?=['\"\\s])",
        java.util.regex.Matcher.quoteReplacement(abs))
    }

  // ------------------------------------------------------------------ //
  // SetProcessor echo mirror: valueless `set <key>` commands print     //
  // `key=value` into the surrounding block's committed output, and     //
  // `reset [-d] [keys]` restores defaults. The replay reproduces the   //
  // echoes from tracked conf state so the stray lines compare instead  //
  // of failing the adjacent query block.                               //
  // ------------------------------------------------------------------ //

  /** HiveConf 2.1 defaults for the keys the corpus echoes after a
    * `reset` (HiveConf.java:1365, 1371). */
  private[compat] val EchoDefaults: Map[String, String] = Map(
    "hive.skewjoin.key" -> "100000",
    "hive.skewjoin.mapjoin.min.split" -> "33554432")

  /** The post-exec hook's key allowlist
    * (ql/hooks/VerifyOverriddenConfigsHook.java:40-43). */
  private[compat] val OverriddenHookKeys: Set[String] = Set(
    "mapred.job.tracker", "hive.exec.post.hooks",
    "some.hive.config.doesnt.exit", "hive.exec.mode.local.auto")

  /** Track one command's conf-state effect: `set k=v` records the
    * ORIGINAL-case substituted value in insertion order (the session's
    * overriddenConfigurations map the verify hook iterates); `reset`
    * clears everything, `reset -d k...` the named keys. */
  private[compat] def trackSetCmd(c: String,
      localConf: scala.collection.mutable.Map[String, String],
      overridden: scala.collection.mutable.LinkedHashMap[String, String]): Unit = {
    val t = c.trim
    if (t.toLowerCase.startsWith("reset")) {
      val keys = t.split("\\s+").drop(1).filterNot(_.equalsIgnoreCase("-d"))
        .map(_.toLowerCase)
      if (keys.isEmpty) { localConf.clear(); overridden.clear() }
      else keys.foreach { k => localConf.remove(k); overridden.remove(k); () }
    } else if ("(?is)^set\\s".r.findFirstIn(t).isDefined) {
      val kv = t.replaceFirst("(?is)^set\\s+", "").split("=", 2)
      if (kv.length == 2)
        overridden(kv(0).trim.toLowerCase) =
          QTestStatements.substVars(kv(1).trim, localConf)
    }
  }

  /** The echo lines the commands FOLLOWING a block appended to its
    * committed output, computed against cloned conf state (the live
    * trackers advance when the next block processes the same
    * commands). Includes MapRedTask.java:124's observable side effect:
    * under local-mode auto the reported job launcher address is the
    * literal "local". */
  private[compat] def futureEchoes(cmds: Seq[String],
      localConf: scala.collection.Map[String, String],
      overridden: scala.collection.mutable.LinkedHashMap[String, String]): Seq[String] = {
    val conf = scala.collection.mutable.Map.empty[String, String] ++ localConf
    val ovr = overridden.clone()
    cmds.flatMap { c =>
      val t = c.trim
      val lower = t.toLowerCase
      if (lower.startsWith("reset")) { trackSetCmd(t, conf, ovr); None }
      else if ("(?is)^set\\s".r.findFirstIn(t).isDefined) {
        val body = t.replaceFirst("(?is)^set\\s+", "").trim
        if (body.contains("=")) {
          val kv = body.split("=", 2)
          val v = QTestStatements.substVars(kv(1).trim, conf)
          conf(kv(0).trim.toLowerCase) = v.toLowerCase
          ovr(kv(0).trim.toLowerCase) = v
          None
        } else {
          val k = body.toLowerCase
          val v =
            if (k == "mapreduce.jobtracker.address" &&
                conf.get("hive.exec.mode.local.auto").contains("true")) "local"
            else ovr.get(k).orElse(conf.get(k)).orElse(EchoDefaults.get(k))
              .getOrElse("")
          Some(s"$body=$v")
        }
      } else None
    }
  }

  /** VerifyOverriddenConfigsHook's per-query output: one line per
    * tracked overridden key on its allowlist, in insertion order. */
  private[compat] def overriddenHookLines(
      overridden: scala.collection.mutable.LinkedHashMap[String, String]): Seq[String] =
    overridden.iterator
      .filter { case (k, _) => OverriddenHookKeys(k) }
      .map { case (k, v) => s"Key: $k, Value: $v" }.toSeq
}
