package graft.functions

import java.lang.reflect.Method

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled-UDTF deployment — the table-function third of `CREATE
  * FUNCTION name AS 'class'` (reference: ql/src/java/org/apache/hadoop/
  * hive/ql/udf/generic/GenericUDTF.java — `initialize()` declares the
  * output row shape, `process(args)` forwards zero-or-more rows per
  * input row, `close()` may forward trailing rows; contrib ships
  * GenericUDTFCount2.java in this shape).
  *
  * Spark-first: the deployed class becomes a Catalyst [[Generator]], so
  * it slots into the SAME plan node as explode/posexplode/inline
  * (`Generate`) — usable in a select list or LATERAL VIEW, streamed
  * row-by-row with no buffering, fully parallel. The convention, with
  * Spark types standing in for ObjectInspectors:
  *
  *  - `initialize(): String` returns the output schema as DDL text
  *    (`"pos INT, token STRING"`) — the StructObjectInspector analog,
  *    resolved once at analysis so downstream operators are typed;
  *  - `process(args...): java.lang.Iterable[Array[AnyRef]]` returns the
  *    rows it would have passed to forward() (overload resolved once
  *    from call-site types, like the scalar bridge);
  *  - optional `close(): java.lang.Iterable[Array[AnyRef]]` emits
  *    trailing rows once per input partition (Generator.terminate is
  *    exactly GenericUDTF.close's hook).
  *
  * Null semantics match the scalar bridge: null into a primitive
  * `process` parameter skips the row (no output); boxed/String
  * parameters receive the null.
  */
case class DeployedUdtf(funcName: String, className: String,
                        children: Seq[Expression])
  extends Expression with Generator with CodegenFallback {

  override def prettyName: String = funcName

  @transient private lazy val bound: UdtfDeploy.Bound =
    UdtfDeploy.bind(funcName, className, children)

  override lazy val elementSchema: StructType = {
    // schema comes from initialize() on a throwaway instance at analysis
    // time (the reference calls initialize exactly once per query too)
    val cls = JavaBridge.loadClass(className)
    StructType.fromDDL(
      cls.getMethod("initialize").invoke(JavaBridge.newInstance(cls)).asInstanceOf[String])
  }

  private def toCatalyst(v: AnyRef, dt: DataType, field: String): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => UTF8String.fromString(s)
    case (n: java.lang.Number, IntegerType) => n.intValue()
    case (n: java.lang.Number, LongType)    => n.longValue()
    case (n: java.lang.Number, DoubleType)  => n.doubleValue()
    case (n: java.lang.Number, FloatType)   => n.floatValue()
    case (n: java.lang.Number, ShortType)   => n.shortValue()
    case (n: java.lang.Number, ByteType)    => n.byteValue()
    case (b: java.lang.Boolean, BooleanType) => b.booleanValue()
    case (b: Array[Byte], BinaryType) => b
    case (other, _) => throw new IllegalArgumentException(
      s"$funcName: process() emitted ${other.getClass.getName} for field " +
        s"'$field' declared $dt in initialize()")
  }

  private def toRows(emitted: AnyRef): IterableOnce[InternalRow] = emitted match {
    case null => Nil
    case it: java.lang.Iterable[_] =>
      val schema = elementSchema
      it.asScala.iterator.map { r =>
        val cells = r.asInstanceOf[Array[AnyRef]]
        require(cells.length == schema.length,
          s"$funcName: process() emitted ${cells.length} columns, initialize() declared ${schema.length}")
        InternalRow.fromSeq(cells.iterator.zip(schema.iterator).map {
          case (v, f) => toCatalyst(v, f.dataType, f.name)
        }.toSeq)
      }
    case other => throw new IllegalArgumentException(
      s"$funcName: process must return java.lang.Iterable<Object[]> (got ${other.getClass.getName})")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val args = bound.process.args(input)
    if (args == null) Nil // bridge null skip
    else toRows(bound.process.invoke(bound.instance, args))
  }

  /** GenericUDTF.close(): trailing rows once per input partition. */
  override def terminate(): IterableOnce[InternalRow] =
    bound.close.map(m => toRows(m.invoke(bound.instance))).getOrElse(Nil)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DeployedUdtf =
    copy(children = newChildren)
}

object UdtfDeploy {

  private[functions] final case class Bound(instance: AnyRef, process: JavaBridge.Call,
                                            close: Option[Method])

  /** GenericUDTF shape: initialize() declaring a schema + process(). */
  private[functions] def looksLikeUdtf(cls: Class[_]): Boolean =
    cls.getMethods.exists(m => m.getName == "initialize" && m.getParameterCount == 0 &&
      m.getReturnType == classOf[String]) &&
      cls.getMethods.exists(_.getName == "process")

  private[functions] def bind(funcName: String, className: String,
                              children: Seq[Expression]): Bound = {
    val cls = JavaBridge.loadClass(className)
    Bound(JavaBridge.newInstance(cls), JavaBridge.bind(cls, "process", children, funcName),
      JavaBridge.method(cls, "close", Nil))
  }
}
