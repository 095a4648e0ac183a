package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** A mergeable summary (Agarwal et al., PODS 2012), declared once: its
  * name, the child types it accepts, its result type, its plan-static
  * parameters and its buffer's create/update/merge/eval and byte codec.
  * [[SketchAgg]] derives Catalyst's aggregate protocol from the
  * declaration.
  *
  * A declaration is a case class whose fields are its parameters, so
  * plan equality tells two parameterisations apart (two `hll_distinct`
  * calls at different `p`). Its buffer is mutable aggregation state:
  * update and merge may change their first argument and return it.
  *
  * Why this shape at 100 TB: Spark partially aggregates each buffer
  * map-side and the exchange carries one serialized buffer per group
  * per mapper, never the values; merge is associative and commutative,
  * so the result does not depend on the partitioning. */
abstract class Sketch[B] extends Product with Serializable {
  def prettyName: String
  def dataType: DataType
  /** Whether the children's types, in child order, are accepted. */
  def accepts(in: Seq[DataType]): Boolean
  /** The analysis error for children of types `got`, which
    * [[accepts]] refused. */
  def typeError(got: String): String

  def create(): B
  /** Adds one row: `in` holds its children's values, none null;
    * `types` their data types. */
  def update(buf: B, in: Array[Any], types: Seq[DataType]): B
  def merge(b1: B, b2: B): B
  def eval(buf: B): Any
  def toBytes(buf: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B
}

/** The one aggregate of the engine's sketch family (SURVEY §2.4,
  * §2.10): children, nullability, the analysis-time type check, the
  * buffer offsets and the Column builder, derived from a [[Sketch]].
  * An object aggregate never codegens, so [[update]] runs once per
  * input row and calls the declaration directly. A row with a null
  * input contributes nothing, as in every SQL aggregate. */
case class SketchAgg[B](sketch: Sketch[B], children: Seq[Expression],
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[B] {

  override def prettyName: String = sketch.prettyName
  override def dataType: DataType = sketch.dataType
  override def nullable: Boolean = false

  // a wrong-typed child would otherwise die per row in a running task
  // (ClassCastException), or worse, be read as something it is not
  override def checkInputDataTypes(): TypeCheckResult = {
    val in = children.map(_.dataType)
    if (sketch.accepts(in)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(sketch.typeError(in match {
      case Seq(t) => t.catalogString
      case ts => ts.map(_.catalogString).mkString("(", ", ", ")")
    }))
  }

  @transient private lazy val types: Seq[DataType] = children.map(_.dataType)

  override def createAggregationBuffer(): B = sketch.create()

  override def update(buf: B, input: InternalRow): B = {
    val in = new Array[Any](children.length)
    var i = 0
    while (i < in.length) {
      in(i) = children(i).eval(input)
      if (in(i) == null) return buf
      i += 1
    }
    sketch.update(buf, in, types)
  }

  override def merge(b1: B, b2: B): B = sketch.merge(b1, b2)
  override def eval(buf: B): Any = sketch.eval(buf)
  override def serialize(buf: B): Array[Byte] = sketch.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): B = sketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): SketchAgg[B] =
    copy(children = cs)
}

object SketchAgg {
  /** Aggregate Column: `sketch` over the columns `cs`. */
  def column(sketch: Sketch[_], cs: Column*): Column =
    ColumnBridge.column(
      SketchAgg(sketch, cs.map(ColumnBridge.expression)).toAggregateExpression())
}

/** The byte layouts the sketch buffers share, big-endian throughout. */
private[functions] object SketchCodec {
  /** A count-prefixed sequence of entries. */
  def write[E](es: Iterable[E])(put: (DataOutputStream, E) => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(es.size)
    es.foreach(put(out, _))
    out.flush()
    bos.toByteArray
  }

  def read[E](bytes: Array[Byte])(get: DataInputStream => E): Iterator[E] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    Iterator.fill(in.readInt())(get(in))
  }

  /** A length-prefixed byte string. */
  def putBytes(out: DataOutputStream, b: Array[Byte]): Unit = {
    out.writeInt(b.length)
    out.write(b)
  }

  def getBytes(in: DataInputStream): Array[Byte] = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    b
  }

  /** A bare long array: its length is the byte count over 8. */
  def longs(buf: Array[Long]): Array[Byte] = {
    val bytes = new Array[Byte](buf.length * 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().put(buf)
    bytes
  }

  def fromLongs(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }
}
