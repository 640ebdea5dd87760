package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.lang.reflect.Method

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.DataType

/** Compiled-UDAF deployment — the aggregate half of `CREATE FUNCTION
  * name AS 'class'` (reference: ql/src/java/org/apache/hadoop/hive/ql/
  * exec/UDAF.java's evaluator convention — `init() / iterate(args) /
  * terminatePartial() / merge(partial) / terminate()` — bridged into the
  * engine by udf/generic/GenericUDAFBridge.java; contrib ships
  * UDAFExampleAvg.java:60 in exactly this shape).
  *
  * Spark-first: the evaluator INSTANCE is the aggregation buffer (that
  * is precisely the reference's model — the evaluator object holds the
  * running state), carried by a [[TypedImperativeAggregate]] so Spark's
  * hash aggregate drives it with map-side partials:
  *
  *  - `update` row  → `iterate(args)` (method resolved ONCE from the
  *    call site's argument types, GenericUDAFBridge.initialize parity)
  *  - shuffle write → `terminatePartial()` java-serialized (the partial
  *    must be `Serializable` — the reference requires it to be a
  *    metastore-expressible struct, same idea)
  *  - shuffle read  → fresh `init()`ed evaluator + `merge(partial)`
  *  - `merge`       → `buffer.merge(other.terminatePartial())`
  *  - final `eval`  → `terminate()`
  *
  * So the deployed class sees EXACTLY the lifecycle Hive promises it,
  * while Spark plans it as a normal partial/final aggregate — at 100 TB
  * the map-side combine keeps shuffle volume at one partial per group
  * per task, identical to a builtin agg. Per-row reflection costs
  * ~100ns; hot paths should prefer builtin compositions, same advice as
  * scalar [[DeployedUdf]].
  *
  * Null semantics: a null aimed at a primitive `iterate` parameter skips
  * the call (the row is unobservable to the UDAF, the bridge rule);
  * boxed/String parameters receive the null.
  */
case class DeployedUdaf(funcName: String, className: String,
                        children: Seq[Expression],
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[AnyRef] {

  override def prettyName: String = funcName
  override def nullable: Boolean = true

  /** All five lifecycle methods resolved once (per task after
    * serialization — @transient, same pattern as [[DeployedUdf]]).
    * `merge` is looked up by `terminatePartial`'s declared return type,
    * the same pairing the reference's UDAFEvaluatorResolver enforces. */
  @transient private lazy val bound: UdafDeploy.Bound =
    UdafDeploy.bind(funcName, className, children)

  override lazy val dataType: DataType = JavaBridge.returnType(bound.terminate, funcName)

  override def createAggregationBuffer(): AnyRef = bound.fresh()

  override def update(buffer: AnyRef, input: InternalRow): AnyRef = {
    val args = bound.iterate.args(input)
    if (args != null) bound.iterate.invoke(buffer, args) // else the bridge null skip
    buffer
  }

  override def merge(buffer: AnyRef, other: AnyRef): AnyRef = {
    bound.merge.invoke(buffer, bound.terminatePartial.invoke(other))
    buffer
  }

  override def eval(buffer: AnyRef): Any =
    JavaBridge.toCatalyst(bound.terminate.invoke(buffer))

  override def serialize(buffer: AnyRef): Array[Byte] = {
    val partial = bound.terminatePartial.invoke(buffer)
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    try oos.writeObject(partial)
    catch {
      case e: java.io.NotSerializableException => throw new IllegalArgumentException(
        s"$funcName: ${className}.terminatePartial must return a java.io.Serializable " +
          s"partial (got ${if (partial == null) "null" else partial.getClass.getName})", e)
    }
    oos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): AnyRef = {
    val partial = new ObjectInputStream(new ByteArrayInputStream(bytes)).readObject()
    val ev = bound.fresh()
    bound.merge.invoke(ev, partial)
    ev
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DeployedUdaf =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DeployedUdaf =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DeployedUdaf =
    copy(children = newChildren)
}

object UdafDeploy {

  private[functions] final case class Bound(cls: Class[_], init: Option[Method],
                                            iterate: JavaBridge.Call, terminatePartial: Method,
                                            merge: Method, terminate: Method) {
    def fresh(): AnyRef = {
      val ev = JavaBridge.newInstance(cls)
      init.foreach(_.invoke(ev))
      ev
    }
  }

  /** Does the class follow the UDAFEvaluator convention? (FunctionTask
    * inspects the deployed class the same way to pick scalar vs
    * aggregate registration.) */
  private[functions] def looksLikeUdaf(cls: Class[_]): Boolean = {
    val names = cls.getMethods.map(_.getName).toSet
    Set("iterate", "terminatePartial", "merge", "terminate").subsetOf(names)
  }

  private[functions] def bind(funcName: String, className: String,
                              children: Seq[Expression]): Bound = {
    val cls = JavaBridge.loadClass(className)
    def need(name: String, sig: Class[_]*): Method =
      JavaBridge.method(cls, name, sig).getOrElse(throw new IllegalArgumentException(
        s"$funcName: $className has no $name(${sig.map(_.getSimpleName).mkString(",")}) — " +
          "the UDAF evaluator convention is iterate/terminatePartial/merge/terminate, " +
          "merge taking terminatePartial's return type (exec/UDAF.java)"))
    val tp = need("terminatePartial")
    Bound(cls, JavaBridge.method(cls, "init", Nil),
      JavaBridge.bind(cls, "iterate", children, funcName), tp, need("merge", tp.getReturnType),
      need("terminate"))
  }
}
