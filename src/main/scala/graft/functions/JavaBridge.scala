package graft.functions

import java.lang.reflect.Method

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one Java-reflection bridge behind every Java-backed function:
  * deployed UDF/UDAF/UDTF classes, `reflect2` and the reference-dialect
  * `reflect` (reference: udf/generic/GenericUDFBridge.java and
  * GenericUDAFBridge.java resolve the method once, through
  * ConversionHelper's widening and one ObjectInspector type mapping).
  * It owns the type maps both ways, the class loader, the method lookup
  * and the value conversions. Callers keep their lifecycle and the
  * resolution policies in which the reference itself differs between
  * them; nothing here branches on its caller.
  */
private[functions] object JavaBridge {

  /** SQL type -> the class a reflected method receives for it. */
  def javaClass(dt: DataType): Class[_] = dt match {
    case StringType     => classOf[String]
    case IntegerType    => classOf[java.lang.Integer]
    case LongType       => classOf[java.lang.Long]
    case DoubleType     => classOf[java.lang.Double]
    case FloatType      => classOf[java.lang.Float]
    case ShortType      => classOf[java.lang.Short]
    case ByteType       => classOf[java.lang.Byte]
    case BooleanType    => classOf[java.lang.Boolean]
    case BinaryType     => classOf[Array[Byte]]
    case _: DecimalType => classOf[java.math.BigDecimal]
    case TimestampType  => classOf[java.sql.Timestamp]
    case DateType       => classOf[java.sql.Date]
    case NullType       => classOf[Object]
    case other => throw new IllegalArgumentException(
      s"unsupported argument type $other: Java-backed functions take primitive, " +
        "string, binary, decimal, date and timestamp columns")
  }

  private val boxes: Map[Class[_], Class[_]] = Map(
    java.lang.Boolean.TYPE   -> classOf[java.lang.Boolean],
    java.lang.Character.TYPE -> classOf[java.lang.Character],
    java.lang.Byte.TYPE      -> classOf[java.lang.Byte],
    java.lang.Short.TYPE     -> classOf[java.lang.Short],
    java.lang.Integer.TYPE   -> classOf[java.lang.Integer],
    java.lang.Long.TYPE      -> classOf[java.lang.Long],
    java.lang.Float.TYPE     -> classOf[java.lang.Float],
    java.lang.Double.TYPE    -> classOf[java.lang.Double])
  private val unboxes: Map[Class[_], Class[_]] = boxes.map(_.swap)

  private def boxedOf(c: Class[_]): Class[_] = boxes.getOrElse(c, c)
  def primitiveOf(c: Class[_]): Class[_] = unboxes.getOrElse(c, c)

  /** Java return class -> SQL type; primitives are looked up boxed. */
  private val sqlTypes: Map[Class[_], DataType] = Map(
    classOf[String]              -> StringType,
    classOf[java.lang.Character] -> StringType,
    classOf[java.lang.Boolean]   -> BooleanType,
    classOf[java.lang.Byte]      -> ByteType,
    classOf[java.lang.Short]     -> ShortType,
    classOf[java.lang.Integer]   -> IntegerType,
    classOf[java.lang.Long]      -> LongType,
    classOf[java.lang.Float]     -> FloatType,
    classOf[java.lang.Double]    -> DoubleType,
    classOf[Array[Byte]]         -> BinaryType)

  def sqlType(c: Class[_]): Option[DataType] = sqlTypes.get(boxedOf(c))

  def returnType(m: Method, what: String): DataType =
    sqlType(m.getReturnType).getOrElse(throw new IllegalArgumentException(
      s"$what: unsupported return type ${m.getReturnType.getName} of " +
        s"${m.getDeclaringClass.getName}.${m.getName}"))

  def loadClass(name: String): Class[_] =
    Class.forName(name, true, Option(Thread.currentThread().getContextClassLoader)
      .getOrElse(getClass.getClassLoader))

  def newInstance(cls: Class[_]): AnyRef =
    cls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]

  def method(cls: Class[_], name: String, sig: Seq[Class[_]]): Option[Method] =
    try Some(cls.getMethod(name, sig: _*))
    catch { case _: NoSuchMethodException => None }

  /** The exact boxed signature, else the exact primitive one. */
  def exact(cls: Class[_], name: String, args: Seq[Class[_]]): Option[Method] =
    method(cls, name, args).orElse(method(cls, name, args.map(primitiveOf)))

  /** Java's primitive widening chain, boxed spellings. */
  private val widenRank: Map[Class[_], Int] = Seq[Class[_]](
    classOf[java.lang.Byte], classOf[java.lang.Short], classOf[java.lang.Integer],
    classOf[java.lang.Long], classOf[java.lang.Float], classOf[java.lang.Double]).zipWithIndex.toMap

  private def widensTo(from: Class[_], to: Class[_]): Boolean = {
    val t = boxedOf(to)
    from == t || widenRank.get(from).exists(f => widenRank.get(t).exists(f <= _))
  }

  /** The `name` overload every argument widens to (never narrows) with
    * the least total widening, so an int picks long over double; ties
    * go by signature, not by getMethods order. */
  private def widening(cls: Class[_], name: String, args: Seq[Class[_]]): Option[Method] =
    cls.getMethods.filter(m => m.getName == name && m.getParameterCount == args.length &&
        args.zip(m.getParameterTypes).forall { case (a, p) => widensTo(a, p) })
      .sortBy { m =>
        val ps = m.getParameterTypes
        (args.zip(ps).map { case (a, p) =>
          widenRank.getOrElse(boxedOf(p), 0) - widenRank.getOrElse(a, 0) }.sum,
          ps.map(_.getName).mkString(","))
      }.headOption

  /** GenericUDFBridge's lookup order: exact boxed, exact primitive, then
    * the narrowest widening. */
  def resolve(cls: Class[_], name: String, args: Seq[Class[_]], what: String): Method =
    exact(cls, name, args).orElse(widening(cls, name, args)).getOrElse(
      throw new IllegalArgumentException(
        s"$what: ${cls.getName} has no $name(${args.map(_.getSimpleName).mkString(",")}) " +
          "and no overload the arguments widen to (byte->short->int->long->float->double); " +
          "cast the arguments explicitly"))

  /** [[resolve]] from the argument expressions, bound to them. */
  def bind(cls: Class[_], name: String, args: Seq[Expression], what: String): Call =
    new Call(resolve(cls, name, args.map(a => javaClass(a.dataType)), what), args)

  /** The public `name` overloads whose parameters accept the argument
    * classes (equal, primitive or assignable), sorted by signature. */
  def assignable(cls: Class[_], name: String, args: Seq[Class[_]]): Seq[Method] =
    cls.getMethods.toSeq.filter(m => m.getName == name && m.getParameterCount == args.length &&
        m.getParameterTypes.zip(args).forall { case (p, a) =>
          p.isAssignableFrom(a) || p == primitiveOf(a) })
      .sortBy(_.getParameterTypes.map(_.getName).mkString(","))

  /** Catalyst value (non-null) -> the Java value of [[javaClass]]. */
  def toJava(dt: DataType): Any => AnyRef = dt match {
    case _: DecimalType => v => v.asInstanceOf[Decimal].toJavaBigDecimal
    case TimestampType  => v => DateTimeUtils.toJavaTimestamp(v.asInstanceOf[Long])
    case DateType       => v => DateTimeUtils.toJavaDate(v.asInstanceOf[Int])
    case _ => {
      case s: UTF8String => s.toString
      case other         => other.asInstanceOf[AnyRef]
    }
  }

  /** Java result -> Catalyst value. */
  def toCatalyst(v: AnyRef): Any = v match {
    case s: String              => UTF8String.fromString(s)
    case c: java.lang.Character => UTF8String.fromString(c.toString)
    case other                  => other
  }

  private val widenInto: Map[Class[_], Number => AnyRef] = Map(
    classOf[java.lang.Short]   -> (n => java.lang.Short.valueOf(n.shortValue)),
    classOf[java.lang.Integer] -> (n => java.lang.Integer.valueOf(n.intValue)),
    classOf[java.lang.Long]    -> (n => java.lang.Long.valueOf(n.longValue)),
    classOf[java.lang.Float]   -> (n => java.lang.Float.valueOf(n.floatValue)),
    classOf[java.lang.Double]  -> (n => java.lang.Double.valueOf(n.doubleValue)))

  /** A method bound once to its argument expressions. Parameter
    * primitiveness and each argument's converter are fixed here, so no
    * row clones `getParameterTypes` or rebuilds a converter. */
  final class Call(val method: Method, argExprs: Seq[Expression]) {
    private val exprs = argExprs.toArray
    private val primitive = method.getParameterTypes.map(_.isPrimitive)
    private val convert: Array[Any => AnyRef] =
      exprs.zip(method.getParameterTypes).map { case (e, p) =>
        val in = toJava(e.dataType)
        val t = boxedOf(p)
        if (t == javaClass(e.dataType)) in
        else widenInto.get(t).fold(in)(w => (v: Any) => w(in(v).asInstanceOf[Number]))
      }

    /** This row's arguments, or null when a null meets a primitive
      * parameter: the method can never observe that row. */
    def args(input: InternalRow): Array[AnyRef] = {
      val out = new Array[AnyRef](exprs.length)
      var i = 0
      while (i < exprs.length) {
        val v = exprs(i).eval(input)
        if (v != null) out(i) = convert(i)(v)
        else if (primitive(i)) return null
        i += 1
      }
      out
    }

    def invoke(target: AnyRef, args: Array[AnyRef]): AnyRef = method.invoke(target, args: _*)
  }
}
