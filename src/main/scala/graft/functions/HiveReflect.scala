package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's `reflect` / `java_method` semantics
  * (GenericUDFReflect.java + AbstractGenericUDFReflect.java), which
  * differ from Spark's builtin `reflect` in three user-visible ways:
  *
  *  1. the method is resolved AT EVALUATION time, so a reflect call in a
  *     never-taken CASE branch with a bogus method never errors
  *     (udf_case.q's short-circuit test);
  *  2. a default-constructed INSTANCE is used when available, so
  *     zero-arg instance methods work — `reflect('java.lang.String',
  *     'isEmpty')` is `new String().isEmpty()` = "true";
  *  3. the result is always stringified (`String.valueOf(...)`).
  *
  * Registered only in the reference-dialect compat session; engine
  * sessions keep Spark's codegen'd static-only builtin. CodegenFallback
  * like the reference's own row-mode reflect (its vectorizer bails too).
  */
final case class HiveReflect(children: Seq[Expression])
    extends Expression with CodegenFallback {

  require(children.length >= 2, "reflect requires (class, method[, arg1...])")

  override def prettyName: String = "reflect"
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)

  // resolved lazily at first eval and cached while (class, method) names
  // repeat — the reference re-resolves only when either name changes
  @transient private var cachedKey: (String, String) = _
  @transient private var cachedCall: JavaBridge.Call = _
  @transient private var cachedInstance: AnyRef = _

  /** The reference's findMethod: first a String-returning method whose
    * params accept the arg classes (primitive, boxed, or assignable),
    * else the exact (name, primitive classes) lookup — here over a
    * SORTED candidate list so resolution is deterministic across JVMs. */
  private def resolve(className: String, methodName: String): Unit = {
    val cls = JavaBridge.loadClass(className)
    val argExprs = children.drop(2)
    val argClasses = argExprs.map(c => JavaBridge.javaClass(c.dataType))
    val m = JavaBridge.assignable(cls, methodName, argClasses)
      .find(m => classOf[String].isAssignableFrom(m.getReturnType))
      .getOrElse(cls.getMethod(methodName, argClasses.map(JavaBridge.primitiveOf): _*))
    cachedCall = new JavaBridge.Call(m, argExprs)
    cachedInstance =
      try JavaBridge.newInstance(cls)
      catch { case _: Exception => null }
    cachedKey = (className, methodName)
  }

  override def eval(input: InternalRow): Any = {
    val clsName = children.head.eval(input)
    val mName = children(1).eval(input)
    if (clsName == null || mName == null) return null
    val key = (clsName.toString, mName.toString)
    if (cachedKey != key) resolve(key._1, key._2)
    val args = cachedCall.args(input)
    // the reference catches invocation failures (a null into a primitive
    // parameter among them) and returns NULL
    if (args == null) return null
    try UTF8String.fromString(String.valueOf(cachedCall.invoke(cachedInstance, args)))
    catch { case _: Exception => null }
  }
}

object HiveReflect {
  /** Shadow Spark's static-only builtins in a reference-dialect session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("reflect", es => HiveReflect(es), "scala_udf")
    reg.createOrReplaceTempFunction("java_method", es => HiveReflect(es), "scala_udf")
  }
}
