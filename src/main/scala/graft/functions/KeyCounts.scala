package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rows per distinct value of a string column, as one `map<string,bigint>`
  * aggregate (a NULL value counts under the key "null").
  *
  * It exists for `Dataset.observe`, which takes aggregates but no grouping:
  * observed on the frame a stage commits, it yields the stage's lineage
  * counts (rows per partition key) from the write job itself, where a
  * `groupBy(key).count()` over the committed table would cost a job of its
  * own. The buffer holds one entry per distinct key, so it is meant for
  * low-cardinality keys.
  */
case class KeyCounts(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
    with UnaryLike[Expression] {

  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "key_counts"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input; got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] = mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    val k = if (v == null) KeyCounts.NullKey else v
    buf.get(k) match {
      case Some(n) => buf.update(k, n + 1)
      // the input row's bytes are reused for the next row: keep a copy
      case None => buf.update(k.clone(), 1L)
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[UTF8String, Long],
      other: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    other.foreach { case (k, n) => buf.update(k, buf.getOrElse(k, 0L) + n) }
    buf
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    val (ks, ns) = buf.toArray.unzip
    ArrayBasedMapData(ks, ns)
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (k, n) =>
      val b = k.getBytes
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(n)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    (0 until in.readInt()).foreach { _ =>
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KeyCounts = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KeyCounts = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KeyCounts = copy(child = c)
}

object KeyCounts {
  private val NullKey = UTF8String.fromString("null")

  /** `key_counts(c)` as a Column: rows per value of `c`, cast to string. */
  def of(c: Column): Column =
    GraftColumnBridge.column(
      KeyCounts(GraftColumnBridge.expression(c.cast(StringType))).toAggregateExpression())
}
