package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Overloads that tell the lookup's three tiers apart. */
class BridgeOverloads {
  def boxed(a: java.lang.Integer): String = "boxed"
  def boxed(a: Int): String = "primitive"
  def boxed(a: Long): String = "widened"
  def prim(a: Int): String = "primitive"
  def prim(a: Long): String = "widened"
  def wide(a: Long): String = "widened"
  def iterate(a: Double): String = "double"
  def iterate(a: Long): String = "long"
  def ints(a: Int): String = "int"
  def longs(a: Long): String = "long"
  def floats(a: Float): String = "float"
}

/** The shared Java-reflection bridge (functions/JavaBridge): one table
  * per rule. */
class JavaBridgeSpec extends AnyFunSuite {
  import JavaBridge._

  private val cls = classOf[BridgeOverloads]
  private val int = Seq[Class[_]](classOf[java.lang.Integer])

  test("every returnable SQL type maps to a Java class and back; argument-only types map one way") {
    val returnable = Seq(StringType, IntegerType, LongType, DoubleType, FloatType, ShortType,
      ByteType, BooleanType, BinaryType)
    returnable.foreach { dt =>
      assert(sqlType(javaClass(dt)).contains(dt), dt)
      assert(sqlType(primitiveOf(javaClass(dt))).contains(dt), s"$dt, primitive form")
    }
    Seq(DecimalType(10, 2) -> classOf[java.math.BigDecimal],
      TimestampType -> classOf[java.sql.Timestamp], DateType -> classOf[java.sql.Date],
      NullType -> classOf[Object]).foreach { case (dt, c) =>
      assert(javaClass(dt) == c, dt)
      assert(sqlType(c).isEmpty, dt)
    }
    Seq(classOf[java.lang.Character], java.lang.Character.TYPE).foreach(c =>
      assert(sqlType(c).contains(StringType), c))
    intercept[IllegalArgumentException](javaClass(ArrayType(IntegerType)))
  }

  test("lookup prefers exact boxed over exact primitive over widening") {
    Seq("boxed" -> "boxed", "prim" -> "primitive", "wide" -> "widened").foreach {
      case (name, tier) =>
        assert(resolve(cls, name, int, "t").invoke(new BridgeOverloads, Integer.valueOf(1)) == tier,
          name)
    }
  }

  test("an int argument widens to iterate(long) before iterate(double)") {
    val m = resolve(cls, "iterate", int, "t")
    assert(m.getParameterTypes.toSeq == Seq(java.lang.Long.TYPE))
    // the bound call converts the boxed Integer into the parameter's type
    val args = new Call(m, Seq(Literal(7))).args(null)
    assert(args.toSeq == Seq(java.lang.Long.valueOf(7L)))
    assert(new Call(m, Seq(Literal(null, IntegerType))).args(null) == null) // null rule
  }

  test("lookup never narrows") {
    Seq("ints" -> classOf[java.lang.Long], "longs" -> classOf[java.lang.Double],
      "floats" -> classOf[java.lang.Double]).foreach { case (name, arg) =>
      val e = intercept[IllegalArgumentException](resolve(cls, name, Seq(arg), "t"))
      assert(e.getMessage.contains(s"$name(${arg.getSimpleName})"), e.getMessage)
    }
  }
}
