package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

import graft.SqlText

/** The reference's `matchpath(on T ...)` PTF **invocation syntax**
  * (ql/src/java/org/apache/hadoop/hive/ql/udf/ptf/MatchPath.java:81,
  * registered as a table function at FunctionRegistry.java:167/475;
  * parse/PTFTranslator.java owns the `on ... partition by ... order by
  * ... arg(...)` clause), made reachable from SQL:
  *
  * {{{
  * select ... from matchpath(on <table-or-(subquery) [alias]>
  *     [distribute by c1, ... | partition by c1, ...]
  *     [sort by s1, ...       | order by s1, ...]
  *   arg1('<pattern>'), arg2('<SYM>'), arg3(<bool expr>), ...,
  *   argN('<result select list>'))
  * [where ...]
  * }}}
  *
  * [[rewrite]] extracts the invocation, runs the PTF as a DataFrame
  * plan, binds it to a temp view and splices the view name back into
  * the statement — the reference's own architecture (PTF = a table
  * operator the FROM clause names) re-expressed the Spark way.
  *
  * Matcher semantics are the reference's exactly, including two
  * documented quirks of its iterator arithmetic (MatchPath.java
  * SymbolFunction family, lines 417-603):
  *  - matches are attempted at EVERY row, so runs yield overlapping
  *    matches (execute:96);
  *  - `sym+` exiting at partition end reports `nextRow = idx-1`
  *    (Plus.match:536), i.e. the last matched row is NOT consumed into
  *    the path — unlike `sym*`, which special-cases the end
  *    (Star.match:500);
  *  - `sym*` whose failing probe row IS the last partition row consumes
  *    that failing row (the `if (pItr.hasNext()) nextRow -= 1` guard
  *    skips the decrement at the end).
  *
  * Scale: one shuffle on the distribute-by key; per-key state is one
  * ordered partition held in memory — the reference's PTFPartition does
  * the same (spilling aside). The no-distribute-by form is a declared
  * single partition, serial there and here by definition.
  */
object MatchPathSql {

  private val viewSeq = new AtomicInteger(0)

  /** If `stmt`'s FROM clause invokes `matchpath(on ...)`, execute the
    * PTF and return the statement with the invocation replaced by a
    * temp-view name; otherwise return `stmt` unchanged. */
  def rewrite(spark: SparkSession, stmt: String): String = {
    val m = "(?is)\\bmatchpath\\s*\\(\\s*on\\b".r.findFirstMatchIn(stmt)
      .getOrElse(return stmt)
    val open = stmt.indexOf('(', m.start)
    val close = SqlText.matchParen(stmt, open)
    if (close < 0) return stmt
    val df = run(spark, stmt.substring(open + 1, close))
    val view = s"graft_matchpath_${viewSeq.incrementAndGet()}"
    df.createOrReplaceTempView(view)
    // another matchpath in the same statement rewrites on recursion
    rewrite(spark, stmt.substring(0, m.start) + view + stmt.substring(close + 1))
  }

  /** Execute one `on ...` invocation body. */
  def run(spark: SparkSession, body0: String): DataFrame = {
    val body = body0.replaceFirst("(?is)^\\s*on\\b", "").trim
    // arg list starts at the first depth-0 `arg<digits>(` token
    val argRe = java.util.regex.Pattern.compile("(?i)(?<!\\w)arg\\d+\\s*\\(")
      .matcher(body).useTransparentBounds(true)
    val argAt = SqlText.find(body)(argRe.region(_, body.length).lookingAt())
    require(argAt >= 0, s"matchpath: no arg list in: $body0")
    val onSpec = body.substring(0, argAt)
    val args = items(body.substring(argAt)).map { a =>
      val o = a.indexOf('(')
      val c = SqlText.matchParen(a, o)
      require(o > 0 && c > o, s"matchpath: unparseable arg: $a")
      a.substring(o + 1, c).trim
    }
    require(args.length >= 4 && args.length % 2 == 0,
      s"matchpath signature: pattern, (symbol, expr)+, result list; got ${args.length} args")
    val pattern = unquote(args.head)
    val resultList = items(unquote(args.last))
    val symbols = args.tail.init.grouped(2)
      .map { case Seq(n, e) => unquote(n).toLowerCase -> e }.toSeq

    // on-spec: <input> [distribute|partition by ...] [sort|order by ...]
    val distAt = SqlText.keywords(onSpec, "distribute", "partition").headOption.getOrElse(-1)
    val sortAt = SqlText.keywords(onSpec, "sort", "order").headOption.getOrElse(-1)
    val inputEnd = Seq(distAt, sortAt).filter(_ >= 0)
      .reduceOption(_ min _).getOrElse(onSpec.length)
    val input = onSpec.substring(0, inputEnd).trim
    def byList(at: Int, end: Int): Seq[String] =
      if (at < 0) Nil
      else items(onSpec.substring(at, end)
        .replaceFirst("(?is)^\\s*(distribute|partition|sort|order)\\s+by\\b", ""))
    val partCols = byList(distAt, if (sortAt > distAt) sortAt else onSpec.length)
    val sortCols = byList(sortAt, if (distAt > sortAt) distAt else onSpec.length)

    val in =
      if (input.startsWith("(")) spark.sql(input.substring(1, SqlText.matchParen(input, 0)))
      else spark.table(input.split("\\s+").head)
    matchPath(spark, in, partCols, sortCols, pattern, symbols, resultList)
  }

  /** The PTF itself, as a DataFrame transform (public engine API). */
  def matchPath(spark: SparkSession, input: DataFrame,
                partCols: Seq[String], sortCols: Seq[String],
                pattern: String, symbols: Seq[(String, String)],
                resultExprs: Seq[String]): DataFrame = {
    val base = input.schema
    val nBase = base.length
    val symNames = symbols.map(_._1)
    // pattern -> (symbol index, quantifier) chain
    val chain: Array[(Int, Char)] = pattern.split("\\.").map { e0 =>
      val e = e0.trim
      val (name, q) =
        if (e.endsWith("*")) (e.dropRight(1), '*')
        else if (e.endsWith("+")) (e.dropRight(1), '+')
        else (e, '1')
      val i = symNames.indexOf(name.trim.toLowerCase)
      require(i >= 0, s"matchpath: pattern symbol '$name' not among ${symNames.mkString(",")}")
      (i, q)
    }
    // the reference converts each symbol expression to boolean per row
    // (Symbol's ObjectInspectorConverters to javaBoolean); NULL never
    // matches
    var df = input
    symbols.zipWithIndex.foreach { case ((_, ex), i) =>
      df = df.withColumn(s"__mp_sym_$i",
        coalesce(expr(ex).cast("boolean"), lit(false)))
    }
    // structural partition key: JSON-encoded struct of the raw values,
    // so multi-column keys cannot collide across boundaries
    // (("ab","c") vs ("a","bc")) and NULL stays distinct from ""
    df = df.withColumn("__mp_key",
      if (partCols.nonEmpty)
        coalesce(to_json(struct(partCols.map(c => col(c.trim)): _*)),
          lit("null"))
      else lit(""))
    val cols = df.columns
    val keyIdx = cols.indexOf("__mp_key")
    val symBase = cols.indexOf("__mp_sym_0")
    val sortIdx = sortCols.map { c =>
      val i = cols.indexWhere(_.equalsIgnoreCase(c.trim))
      require(i >= 0, s"matchpath: unknown sort column $c")
      i
    }
    val outSchema = StructType(base.fields :+
      StructField("tpath", ArrayType(StructType(base.fields))))
    val nSyms = symbols.length
    val matched = df
      .groupByKey(_.getString(keyIdx))(Encoders.STRING)
      .flatMapGroups { (_: String, it: Iterator[Row]) =>
        val rows = it.toArray
        // in-memory per-key order — the reference's PTFPartition is the
        // same materialized ordered block
        java.util.Arrays.sort(rows, new java.util.Comparator[Row] {
          def compare(a: Row, b: Row): Int = {
            sortIdx.foreach { i =>
              val c = cmpVal(a.getAs[Any](i), b.getAs[Any](i))
              if (c != 0) return c
            }
            0
          }
        })
        val n = rows.length
        val b = Array.tabulate(n, nSyms)((i, s) => rows(i).getBoolean(symBase + s))
        val out = Seq.newBuilder[Row]
        var i = 0
        while (i < n) {
          val next = matchChain(chain, b, i, n)
          if (next >= 0) {
            val sz = next - i
            val tpath = rows.slice(i, i + sz).toSeq
              .map(r => Row.fromSeq(r.toSeq.take(nBase)))
            out += Row.fromSeq(rows(i).toSeq.take(nBase) :+ tpath)
          }
          i += 1
        }
        out.result().iterator
      }(Encoders.row(outSchema))
    matched.selectExpr(resultExprs: _*)
  }

  /** Chain match starting at row `start`; returns the next-unconsumed
    * row index on success, -1 on failure — the exact arithmetic of the
    * reference's Symbol/Plus/Star/Chain SymbolFunctions. */
  private def matchChain(chain: Array[(Int, Char)], b: Array[Array[Boolean]],
                         start: Int, n: Int): Int = {
    var at: Int = start  // row the next component examines; n => past end
    var lastNext = start
    var ci = 0
    while (ci < chain.length) {
      val (sym, q) = chain(ci)
      if (at >= n) {
        // row == null there: only optional (star) components may remain
        if (q != '*') return -1
      } else q match {
        case '1' =>
          if (!b(at)(sym)) return -1
          lastNext = at + 1
        case '+' =>
          if (!b(at)(sym)) return -1
          // greedy run; exiting at partition end leaves the final
          // matched row unconsumed (Plus.match: nextRow = idx - 1)
          var cur = at; var idx = at + 1
          while (b(cur)(sym) && idx < n) { cur = idx; idx += 1 }
          lastNext = idx - 1
        case '*' =>
          // always matches; a failing probe on the LAST partition row
          // is consumed (Star.match skips the decrement at the end)
          var cur = at; var idx = at + 1
          while (b(cur)(sym) && idx < n) { cur = idx; idx += 1 }
          lastNext = if (idx < n) idx - 1 else idx
      }
      at = lastNext
      ci += 1
    }
    lastNext
  }

  private def cmpVal(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1 // sort by = ASC NULLS FIRST there
    case (_, null) => 1
    case (x: java.lang.Comparable[_], y) =>
      x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y)
    case _ => 0
  }

  // -- small text utilities; literals, comments and parens as
  // -- [[graft.SqlText]] scans them

  private def unquote(s0: String): String = {
    val s = s0.trim
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      s.substring(1, s.length - 1).replace("\\'", "'").replace("''", "'")
    else s
  }

  /** Depth-0 comma-separated items, trimmed, empty ones dropped. */
  private def items(s: String): Seq[String] = SqlText.split(s).map(_.trim).filter(_.nonEmpty)
}
