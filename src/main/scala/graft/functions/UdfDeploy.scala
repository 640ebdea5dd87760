package graft.functions

import java.lang.reflect.Modifier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType

/** Compiled-UDF deployment — `CREATE [TEMPORARY] FUNCTION name AS
  * '<classname>'` (reference: ql/src/java/org/apache/hadoop/hive/ql/
  * parse/FunctionSemanticAnalyzer.java + exec/FunctionTask.java, which
  * register a class following the classic UDF convention — a public
  * `evaluate(...)` method per overload, exec/UDF.java's contract — into
  * exec/Registry.java; `contrib/` ships example UDFs of exactly this
  * shape).
  *
  * Spark-first: the deployed class becomes a Catalyst [[Expression]]
  * whose `evaluate` overload is RESOLVED ONCE from the call site's
  * argument types through [[JavaBridge]] — exact boxed, exact primitive,
  * then the narrowest widening (the reference does the same in
  * GenericUDFBridge.initialize: method resolution happens at compile
  * time, only invoke() runs per row). The return Spark type comes from
  * the Java return type, so downstream operators are properly typed.
  * Per-row work is a cached `Method.invoke` — non-codegen by nature
  * (CodegenFallback), the same row-mode bail the reference's vectorizer
  * takes for bridged UDFs. Ship the class in the application jar
  * (`spark.jars`) exactly as Hive ships it with ADD JAR; at 100 TB
  * prefer builtin compositions ([[graft.functions.Macros]]) on hot
  * paths — reflection dispatch costs ~100ns/row.
  *
  * Null semantics follow the reference's bridge: a null argument aimed
  * at a PRIMITIVE parameter short-circuits to null (the UDF cannot
  * observe it); boxed/String parameters receive the null and may handle
  * it.
  */
case class DeployedUdf(funcName: String, className: String,
                       children: Seq[Expression])
  extends Expression with CodegenFallback {

  override def prettyName: String = funcName
  override def nullable: Boolean = true

  // one lazy val, not a destructured pair: pattern-destructured lazy
  // vals synthesize a NON-transient tuple field, which drags the
  // Method into task serialization
  @transient private lazy val bound: (AnyRef, JavaBridge.Call) = {
    val cls = JavaBridge.loadClass(className)
    (JavaBridge.newInstance(cls), JavaBridge.bind(cls, "evaluate", children, funcName))
  }

  override lazy val dataType: DataType = JavaBridge.returnType(bound._2.method, funcName)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val args = bound._2.args(input)
    if (args == null) null // bridge null short-circuit
    else JavaBridge.toCatalyst(bound._2.invoke(bound._1, args))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object UdfDeploy {

  private def loadClass(className: String): Class[_] = {
    val cls = JavaBridge.loadClass(className)
    require(
      UdafDeploy.looksLikeUdaf(cls) || UdtfDeploy.looksLikeUdtf(cls) ||
        cls.getMethods.exists(m =>
          m.getName == "evaluate" && Modifier.isPublic(m.getModifiers)),
      s"$className follows none of the deployable conventions: scalar " +
        "evaluate(...) (exec/UDF.java), aggregate iterate/terminatePartial/" +
        "merge/terminate (exec/UDAF.java), or table-function initialize()/" +
        "process(...) (GenericUDTF.java)")
    cls
  }

  /** Register `name` as a call to `className` — the
    * FunctionTask.createTemporaryFunction analog. The class's SHAPE picks
    * the registration (FunctionTask inspects the deployed class the same
    * way: UDAF subclasses register as aggregates, GenericUDTF subclasses
    * as table functions, everything else as scalar evaluate). Validates
    * eagerly (FunctionTask fails the DDL, not the first query). */
  def create(spark: SparkSession, name: String, className: String): Unit = {
    val cls = loadClass(className)
    val builder: Seq[Expression] => Expression =
      if (UdafDeploy.looksLikeUdaf(cls)) es => DeployedUdaf(name, className, es)
      else if (UdtfDeploy.looksLikeUdtf(cls)) es => DeployedUdtf(name, className, es)
      else es => DeployedUdf(name, className, es)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "hive")
  }

  def drop(spark: SparkSession, name: String): Unit =
    spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name))
}

/** `CREATE [OR REPLACE] [TEMPORARY] FUNCTION name AS 'classname'` /
  * `DROP [TEMPORARY] FUNCTION [IF EXISTS] name` for compiled UDFs —
  * grammar Spark lacks without Hive support, routed from the HPL/SQL
  * passthrough like the other engine DDL. (`USING JAR` is refused with
  * direction: ship the jar via spark.jars / --jars, Spark's ADD JAR.) */
object FunctionDdl {
  private val CreateRe =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?FUNCTION\s+([\w.]+)\s+AS\s+'([^']+)'\s*(.*?)\s*;?\s*""".r
  private val DropRe =
    """(?is)\s*DROP\s+(?:TEMPORARY\s+)?FUNCTION\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*""".r

  def matches(sql: String): Boolean = sql match {
    case CreateRe(_, _, _) => true
    case DropRe(name) =>
      // only claim DROP FUNCTION for names we deployed — Spark's own
      // DROP TEMPORARY FUNCTION (macros) must keep working
      deployed.contains(name.toLowerCase)
    case _ => false
  }

  private val deployed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def run(spark: SparkSession, sql: String): DataFrame = sql match {
    case CreateRe(name, className, rest) =>
      if (rest.nonEmpty)
        throw new IllegalArgumentException(
          s"unsupported clause '$rest' — ship jars via spark.jars (ADD JAR analog)")
      UdfDeploy.create(spark, name, className)
      deployed.add(name.toLowerCase)
      spark.emptyDataFrame
    case DropRe(name) =>
      UdfDeploy.drop(spark, name)
      deployed.remove(name.toLowerCase)
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(s"not a function DDL: $sql")
  }
}
