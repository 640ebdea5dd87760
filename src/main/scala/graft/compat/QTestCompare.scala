package graft.compat

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.types.StructType

import graft.SqlText

import QTestReplay.{Block, Mask}

/** Block classification and got-vs-want comparators for the corpus
  * replay — which statements are checkable, how rows sort/digest, and
  * the tie-pick comparators for LIMIT-without-ORDER goldens. Split
  * from QTestReplay (round 14); behavior unchanged. */
private[compat] object QTestCompare {

  /** First keyword of a statement after leading `--` comments. */
  private[compat] def firstWord(q: String): String = {
    val body = q.linesIterator.map(_.trim).filterNot(l => l.isEmpty || l.startsWith("--"))
      .mkString(" ")
    body.split("[\\s(]", 2).headOption.getOrElse("").toLowerCase
  }

  /** Block types / statements replayed vs skipped. Skips are statements
    * whose output is presentation, not query semantics: plans, catalog
    * text, function help. */
  private[compat] def skippable(b: Block): Boolean =
    b.qtype != "QUERY" ||
      b.query.contains(Mask) ||
      (firstWord(b.query) match {
        case "explain" | "describe" | "desc" | "show" => true
        case _ => false
      })

  /** LIMIT without ORDER BY: SQL leaves WHICH rows unspecified, so a
    * value mismatch on such a statement is the reference's MapReduce
    * emission order showing through, not a correctness signal — those
    * mismatches are tallied as `nondet`, not failures. (A MATCH is still
    * meaningful — constant projections and limit >= rowcount pin the
    * values regardless of row choice — so these are attempted, not
    * skipped.) */
  /** percent TABLESAMPLE picks a byte fraction of the SPLIT there —
    * even the row COUNT is engine-specific. */
  private[compat] def percentSample(q: String): Boolean =
    "(?is)tablesample\\s*\\(\\s*[\\d.]+\\s+percent".r.findFirstIn(q).isDefined

  private[compat] def limitWithoutOrder(q: String): Boolean =
    ("(?is)\\blimit\\s+\\d".r.findFirstIn(q).isDefined ||
      // row-count/percent TABLESAMPLE picks unspecified rows the same way
      "(?is)tablesample\\s*\\(\\s*[\\d.]+\\s+(rows|percent)".r.findFirstIn(q).isDefined) &&
      // an ORDER BY inside an OVER clause (depth > 0) orders the window,
      // not the output — distinct_windowing's `distinct first_value(t)
      // over (... order by i) limit 10` is an UN-ordered LIMIT (and its
      // values are min-i tie-order-dependent in both engines: 17 of
      // over10k's 256 si-partitions tie on min i with differing t)
      !topLevelOrderBy(q)

  /** `ORDER BY <constant> LIMIT n` — view_alias's `order by ``_c1```
    * names a view column that IS a literal ('12'), so the row pick is
    * as unspecified as a bare LIMIT. Detected from the OPTIMIZED plan:
    * the optimizer's EliminateSorts removes a top-level Sort whose keys
    * fold to constants, so order-by + limit with NO surviving Sort node
    * means the order was vacuous. */
  private[compat] def vacuousOrderLimit(stmt: String,
                                df: org.apache.spark.sql.DataFrame): Boolean =
    "(?is)\\blimit\\s+\\d".r.findFirstIn(stmt).isDefined &&
      topLevelOrderBy(stmt) &&
      (try df.queryExecution.optimizedPlan.collectFirst {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
      }.isEmpty
      catch { case _: Exception => false })

  /** `ORDER BY <output cols> LIMIT n` where got/want differ only in
    * WHICH rows fill the tie groups: equal-length results whose
    * ORDER-KEY projections agree as sequences can only disagree inside
    * tie groups, where the reference's pick is its reducer arrival
    * order (view_alias's `order by count limit 5` over hundreds of
    * count=1 keys). Keys must be NAMED output columns — expression
    * keys return false and stay strict. */
  private[compat] def tieLimitPick(stmt: String, schema: StructType,
                           got: Seq[String], want: Seq[String]): Boolean = {
    if (got.size != want.size || got.isEmpty) return false
    val m = "(?is)\\border\\s+by\\s+([^()]+?)\\s+limit\\s+\\d+\\s*;?\\s*$".r
      .findFirstMatchIn(stmt).getOrElse(return false)
    val names = m.group(1).split(",").map(_.trim
      .replaceAll("(?is)\\s+(asc|desc)\\b.*$", "")
      .replace("`", ""))
    val idxs = names.map(n =>
      schema.fieldNames.indexWhere(_.equalsIgnoreCase(n)))
    if (idxs.exists(_ < 0)) return false
    def keys(rs: Seq[String]): Seq[Seq[String]] = rs.map { r =>
      val cs = r.split("\t", -1)
      idxs.toSeq.map(i => if (i < cs.length) cs(i) else "")
    }
    val gk = keys(got)
    if (gk != keys(want)) return false
    // only TIE GROUPS (repeated key values) may hold different rows; a
    // row whose key is unique in the result must match byte-exact
    val counts = gk.groupBy(identity).map { case (k, v) => k -> v.size }
    got.indices.forall(i => got(i) == want(i) || counts(gk(i)) > 1)
  }

  /** Depth-0 ORDER BY (outside parens/quotes/comments) — the statement
    * pins its OUTPUT order, so the comparison must too. */
  private[compat] def topLevelOrderBy(q: String): Boolean = {
    val i = SqlText.keyword(q, "ORDER")
    i >= 0 && "(?is)^order\\s+by\\b".r.findFirstIn(q.substring(i)).isDefined
  }

  /** The reference harness's own sort directive: when a file carries
    * `-- SORT_QUERY_RESULTS`, the committed rows are sorted text, so the
    * sorted-multiset comparison is the faithful one even under ORDER BY. */
  private[compat] def hasSortMarker(blocks: Seq[Block]): Boolean =
    blocks.exists(_.query.contains("SORT_QUERY_RESULTS"))

  /** `-- SORT_AND_HASH_QUERY_RESULTS`: the harness's
    * SortAndDigestPrintStream emits each statement's rows SORTED and
    * appends base64(MD5(concatenated row bytes, no separators)). */
  private[compat] def hasSortHashMarker(blocks: Seq[Block]): Boolean =
    blocks.exists(_.query.contains("SORT_AND_HASH_QUERY_RESULTS"))

  private[compat] def sortAndDigest(rows: Seq[String]): Seq[String] = {
    val sorted = rows.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    sorted.foreach(r => md.update(r.getBytes(UTF_8)))
    sorted :+ java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** Compare one statement's rendered rows against the expected block:
    * ORDER-pinned statements compare IN ORDER (unless the file's rows
    * were sorted by the harness); everything else as sorted multisets.
    * Returns None on match, Some(diff) on mismatch. */
  private[compat] def diffRows(stmt: String, fileSorted: Boolean,
                       gotRaw0: Seq[String], want: Seq[String],
                       sortHash: Boolean = false): Option[String] = {
    // SORT_AND_HASH files commit sorted rows + a trailing digest line
    val gotRaw = if (sortHash) sortAndDigest(gotRaw0) else gotRaw0
    val ordered = sortHash || (!fileSorted && topLevelOrderBy(stmt))
    val (got, exp) = if (ordered) (gotRaw, want) else (gotRaw.sorted, want.sorted)
    if (got == exp) None
    else if (ordered && gotRaw.sorted == want.sorted)
      Some("row ORDER differs (multiset equal)")
    else Some(got.zipAll(exp, "<missing>", "<missing>")
      .collectFirst { case (g, w) if g != w => s"got '$g' want '$w'" }
      .getOrElse(s"row count ${got.size} vs ${exp.size}"))
  }

  private[compat] def oneLine(s: String): String = {
    val t = s.replaceAll("\\s+", " ").trim
    if (t.length > 160) t.take(160) + "…" else t
  }

  private[compat] val CoreFixtures = Set("src", "src1", "srcpart", "alltypesorc", "_dummy_table")

  private[compat] def fixtureName(input: String): String = {
    // "default@srcpart@ds=.../hr=..." -> srcpart; "database:default" -> ""
    val parts = input.split("@")
    if (parts.length >= 2) parts(1) else parts(0)
  }

  /** The read-only corpus filter: QUERY/presentation blocks over the
    * core fixtures, nothing written. */
  def selectOnlyOverCoreFixtures(blocks: Seq[Block]): Boolean =
    blocks.nonEmpty &&
      blocks.forall(b => (b.qtype == "QUERY" || b.qtype == "DESCFUNCTION") &&
        b.outputs.isEmpty && b.inputs.forall(i => CoreFixtures(fixtureName(i)))) &&
      blocks.exists(b => b.qtype == "QUERY")

  /** The DDL-bearing corpus filter: files that additionally CREATE their
    * own tables/views, LOAD the reference's data files into them and
    * INSERT into them — executed through the engine's own surfaces
    * ([[HiveDdl]] translation, [[graft.etl.LoadData]]). Reads must stay
    * within the fixtures + tables the file itself creates. */
  private[compat] val DdlTypes = Set("QUERY", "DESCFUNCTION", "DESCTABLE", "SHOWPARTITIONS",
    "SHOW_TBLPROPERTIES", "CREATETABLE", "CREATETABLE_AS_SELECT", "DROPTABLE",
    "LOAD", "CREATEVIEW", "DROPVIEW", "ALTERTABLE_ADDPARTS", "ALTERTABLE_DROPPARTS")

  def ddlOverCoreFixtures(blocks: Seq[Block]): Boolean = {
    if (blocks.isEmpty || !blocks.exists(b => b.qtype == "QUERY" && b.outputs.isEmpty))
      return false
    if (!blocks.forall(b => DdlTypes(b.qtype))) return false
    val owned = blocks.iterator
      .filter(b => b.qtype == "CREATETABLE" || b.qtype == "CREATETABLE_AS_SELECT" ||
        b.qtype == "CREATEVIEW")
      .flatMap(_.outputs).map(fixtureName).map(_.toLowerCase).toSet
    if (owned.isEmpty) return false // read-only files take the other lane
    blocks.forall(b =>
      b.inputs.forall(i => { val n = fixtureName(i).toLowerCase
        CoreFixtures(n) || owned(n) || i.startsWith("database:") }) &&
      b.outputs.forall(o => { val n = fixtureName(o).toLowerCase
        owned(n) || o.startsWith("database:") }))
  }
}
