package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

import graft.SqlText

/** `QUALIFY` — Teradata's window-predicate clause (used in the
  * reference's own corpus: hplsql/src/test/queries/offline/
  * select_teradata.sql `QUALIFY ROW_NUMBER() OVER (...) = 1`; modern
  * engines adopted it), which Spark's grammar lacks.
  *
  * Implemented as a SQL-text rewrite in an injected delegating parser
  * (SparkSessionExtensions.injectParser — the supported seam for
  * grammar the engine doesn't have): a query block
  *
  * {{{ SELECT <list> FROM <rest> QUALIFY <pred> [ORDER BY ... LIMIT ...] }}}
  *
  * becomes
  *
  * {{{
  *   SELECT * EXCEPT (__qualify) FROM (
  *     SELECT <list>, (<pred>) AS __qualify FROM <rest>
  *   ) __qualify_q WHERE __qualify [ORDER BY ... LIMIT ...]
  * }}}
  *
  * — the window predicate is computed IN the original block (same
  * grouping/window context, exactly Teradata's evaluation order: after
  * window functions, before ORDER BY), then filtered one level up.
  * Catalyst collapses the nesting, so the physical plan is the same
  * Window + Filter a hand-written subquery would produce — no extra
  * shuffle, scale-free.
  *
  * Scope: QUALIFY is recognized at the top level of the statement and
  * inside every parenthesized subexpression (i.e., any parenthesized
  * subquery), outside string literals, comments, and backticked
  * identifiers as [[graft.SqlText]] defines them. Statements without the
  * keyword pass through with ZERO rewriting cost beyond one scan for the
  * token.
  */
object QualifyRewrite {

  private val Word = "QUALIFY"

  def rewrite(sql: String): String =
    if (!sql.toUpperCase.contains(Word)) sql else rewriteBlock(sql)

  /** Rewrite paren groups bottom-up, then this block's own QUALIFY. */
  private def rewriteBlock(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val e = SqlText.skip(s, i)
      if (e > i) { out.append(s.substring(i, e)); i = e }
      else if (s(i) == '(') {
        val close = SqlText.matchParen(s, i)
        if (close < 0) { out.append(s.substring(i)); i = s.length }
        else {
          out.append('(').append(rewriteBlock(s.substring(i + 1, close))).append(')')
          i = close + 1
        }
      } else { out.append(s(i)); i += 1 }
    }
    applyQualify(out.toString)
  }

  /** Handle one depth-0 QUALIFY in a block whose subgroups are done. */
  private def applyQualify(s: String): String = {
    val q = SqlText.keyword(s, Word)
    if (q < 0) return s
    val head = s.substring(0, q)
    val after = s.substring(q + Word.length)
    // the predicate runs to a depth-0 ORDER BY / LIMIT / OFFSET (this
    // block's tail) or a set operator (the next branch), else EOS
    val predEnd = SqlText.keywords(after, "ORDER", "LIMIT", "OFFSET", "UNION",
        "INTERSECT", "EXCEPT", "MINUS").headOption.getOrElse(after.length)
    val pred = after.substring(0, predEnd).trim
    val tail = after.substring(predEnd)
    require(pred.nonEmpty, "QUALIFY requires a predicate")

    val from = SqlText.keyword(head, "FROM")
    require(from >= 0, "QUALIFY requires a FROM clause in its query block")
    var selectList = head.substring(0, from)
    val rest = head.substring(from)
    // Teradata evaluation order puts QUALIFY BEFORE DISTINCT: the
    // dedup must see the filtered rows, and the predicate column must
    // not widen the distinct key — hoist DISTINCT to the outer select
    val distinctRe = """(?is)^(\s*SELECT\s+)DISTINCT\b""".r
    val distinct = distinctRe.findFirstMatchIn(selectList).isDefined
    if (distinct)
      selectList = distinctRe.replaceFirstIn(selectList, "$1")
    val outerSel = if (distinct) "SELECT DISTINCT" else "SELECT"
    s"$outerSel * EXCEPT (__qualify) FROM ($selectList, ($pred) AS __qualify $rest) __qualify_q WHERE __qualify " + tail
  }
}

/** `LIMIT <offset>, <count>` — the reference's two-operand limit clause
  * (HiveParser.g limitClause, HIVE-11531; MySQL's spelling), which Spark
  * spells `LIMIT <count> OFFSET <offset>`. A token-level rewrite outside
  * literals and comments ([[graft.SqlText]]); both operands must be
  * integer literals (exactly the reference's grammar — expressions are
  * not accepted there either).
  * Statements without a comma-LIMIT pass through unchanged. */
object LimitCommaRewrite {

  private val P = java.util.regex.Pattern.compile(
    "(?i)\\blimit\\s+(\\d+)\\s*,\\s*(\\d+)")

  def rewrite(sql: String): String = {
    if (!sql.toLowerCase.contains("limit")) return sql
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val e = SqlText.skip(sql, i)
      val c = sql(i)
      if (e > i) { out.append(sql.substring(i, e)); i = e }
      else if (c == 'l' || c == 'L') { // candidate LIMIT token
        val m = P.matcher(sql)
        if (m.find(i) && m.start == i &&
            (i == 0 || !Character.isLetterOrDigit(sql(i - 1)))) {
          out.append(s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
          i = m.end
        } else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }
}

/** The delegating parser carrying the QUALIFY and comma-LIMIT rewrites;
  * everything else passes straight through to Spark's parser. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(QualifyRewrite.rewrite(LimitCommaRewrite.rewrite(sqlText)))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(QualifyRewrite.rewrite(LimitCommaRewrite.rewrite(sqlText)))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
