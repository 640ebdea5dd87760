package graft.functions

import java.lang.reflect.Method

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** `reflect2(value, 'method', args...)` — instance-method reflection ON
  * the value itself (reference GenericUDFReflect2, ql/src/java/org/apache/
  * hadoop/hive/ql/udf/generic/GenericUDFReflect2.java). Complements
  * `reflect`/`java_method` (static dispatch, q212): `reflect2('ab',
  * 'concat', 'c')` calls `"ab".concat("c")`.
  *
  * Spark-first shape: a Catalyst `Expression` whose METHOD IS RESOLVED
  * ONCE at analysis time from the child's data type (the reference does
  * the same in initialize(): the method and return ObjectInspector are
  * fixed per-query, only invoke() runs per row). The return Spark type is
  * derived from the Java return type, so downstream operators see a
  * properly typed column — unlike `reflect`, which stringifies. Per-row
  * work is a cached `Method.invoke` — inherently non-codegen (same in the
  * reference's vectorizer, which bails to row mode for reflect UDFs),
  * hence CodegenFallback; keep it off 100TB hot paths, as the reference
  * docs advise for its own reflect family.
  */
case class Reflect2(children: Seq[Expression]) extends Expression with CodegenFallback {

  require(children.length >= 2, "reflect2 requires (value, methodName, args...)")

  override def prettyName: String = "reflect2"
  override def nullable: Boolean = true

  private def methodName: String =
    children(1).eval(null) match {
      case s: UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"reflect2 method name must be a string literal, got $other")
    }

  /** Resolved once (lazily at first use per task; deterministic): the
    * exact boxed then primitive signature (`String.substring(int)` from
    * an IntegerType arg), then String args as CharSequence
    * (`String.replace`), then the most specific assignable overload. */
  @transient private lazy val call: JavaBridge.Call = {
    val argClasses = children.drop(2).map(c => JavaBridge.javaClass(c.dataType))
    val cls = JavaBridge.javaClass(children.head.dataType)
    // the reference resolves through commons-lang
    // MethodUtils.getMatchingAccessibleMethod, which is why
    // `reflect2(s, 'equals', t)` finds equals(Object) for a String arg;
    // with several assignable overloads (Object vs a narrower type) it
    // picks the MOST SPECIFIC one: a is at least as specific as b if
    // every a-param is assignable to the matching b-param
    def mostSpecific(cands: Seq[Method]): Option[Method] =
      cands.reduceLeftOption { (best, m) =>
        if (m.getParameterTypes.zip(best.getParameterTypes)
            .forall { case (pm, pb) => pb.isAssignableFrom(pm) }) m else best
      }
    val m = JavaBridge.exact(cls, methodName, argClasses)
      .orElse(JavaBridge.method(cls, methodName, argClasses.map(c =>
        if (c == classOf[String]) classOf[CharSequence] else c)))
      .orElse(mostSpecific(JavaBridge.assignable(cls, methodName, argClasses)))
      .getOrElse(throw new IllegalArgumentException(
        s"reflect2: no method $methodName(${argClasses.map(_.getSimpleName).mkString(",")}) " +
          s"on ${cls.getName}"))
    new JavaBridge.Call(m, children.drop(2))
  }
  @transient private lazy val targetToJava = JavaBridge.toJava(children.head.dataType)

  override lazy val dataType: DataType = JavaBridge.returnType(call.method, "reflect2")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val target = children.head.eval(input)
    if (target == null) return null
    val args = call.args(input)
    if (args == null || args.contains(null)) return null // any null argument gives null
    JavaBridge.toCatalyst(call.invoke(targetToJava(target), args))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Reflect2 = copy(children = newChildren)
}

object Reflect2 {
  def reflect2(value: Column, method: String, args: Column*): Column =
    call_function("reflect2", (value +: org.apache.spark.sql.functions.lit(method) +: args): _*)

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "reflect2", es => Reflect2(es), "scala_udf")
}
