package graft.carve

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.TaskContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** The exact crosstab cells `(fid, dv, sv, y, fold) → n` as one mergeable
  * aggregate, so the cells can ride a job that reads the input anyway (the
  * sketch, [[BinaryCarver.sketchWithExtras]]) instead of a pass of their
  * own. `entries` is the [[BinaryCarver.histEntries]] array of one input
  * row, `y` the target as the crosstab keys it (double or string), `fold`
  * the fold id (a null literal without folds).
  *
  * The cells are bounded by `budget`: a partial buffer holds at most
  * `budget / numPartitions` cells (a null `TaskContext` counts as one
  * partition) and the merged buffer at most `budget`. Past either cap the
  * buffer drops its cells and stays overflowed: it serializes to 4 bytes,
  * and the result is null. So no more than `budget` cells ever reach the
  * final task, whatever the input's size. Keys group as a `groupBy` would:
  * NaN is one key and -0.0 is 0.0. The result's order is unspecified.
  */
case class CellCounts(entries: Expression, y: Expression, fold: Expression, budget: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CellCounts.Cells] with TernaryLike[Expression] {
  import CellCounts.Cells

  override def first: Expression = entries
  override def second: Expression = y
  override def third: Expression = fold

  override def nullable: Boolean = true
  override def prettyName: String = "cell_counts"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("fid", StringType), StructField("dv", DoubleType), StructField("sv", StringType),
    StructField("y", y.dataType), StructField("fold", fold.dataType), StructField("n", LongType, nullable = false))),
    containsNull = false)

  private lazy val keyTypes: Array[DataType] = Array(StringType, DoubleType, StringType, y.dataType, fold.dataType)
  @transient private lazy val keyOf = UnsafeProjection.create(keyTypes)
  @transient private lazy val key = new GenericInternalRow(keyTypes.length)
  private lazy val yIsDouble = y.dataType == DoubleType

  override def createAggregationBuffer(): Cells =
    new Cells(budget / Option(TaskContext.get()).fold(1)(_.numPartitions()))

  override def update(buf: Cells, input: InternalRow): Cells = {
    val es = entries.eval(input).asInstanceOf[ArrayData]
    if (buf.overflowed || es == null) return buf
    val yv = y.eval(input)
    key.update(3, if (yIsDouble && yv != null) CellCounts.norm(yv.asInstanceOf[Double]) else yv)
    key.update(4, fold.eval(input))
    var i = 0
    while (i < es.numElements() && !buf.overflowed) {
      val e = es.getStruct(i, 3)
      key.update(0, e.getUTF8String(0))
      key.update(1, if (e.isNullAt(1)) null else CellCounts.norm(e.getDouble(1)))
      key.update(2, if (e.isNullAt(2)) null else e.getUTF8String(2))
      buf.add(keyOf(key), 1L, buf.cap, copy = true)
      i += 1
    }
    buf
  }

  override def merge(buf: Cells, in: Cells): Cells = {
    if (in.overflowed) buf.cells = null
    else if (!buf.overflowed)
      in.cells.forEach((k, n) => if (!buf.overflowed) buf.add(k, n(0), budget, copy = false))
    buf
  }

  override def eval(buf: Cells): Any =
    if (buf.overflowed) null
    else {
      val out = new Array[Any](buf.cells.size)
      var i = 0
      buf.cells.forEach { (k, n) =>
        val row = new GenericInternalRow(keyTypes.length + 1)
        keyTypes.indices.foreach(j => if (!k.isNullAt(j)) row.update(j, k.get(j, keyTypes(j))))
        row.setLong(keyTypes.length, n(0))
        out(i) = row
        i += 1
      }
      new GenericArrayData(out)
    }

  override def serialize(buf: Cells): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    if (buf.overflowed) out.writeInt(-1)
    else {
      out.writeInt(buf.cells.size)
      buf.cells.forEach { (k, n) =>
        out.writeInt(k.getSizeInBytes)
        out.write(k.getBytes)
        out.writeLong(n(0))
      }
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Cells = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Cells(budget)
    val size = in.readInt()
    if (size < 0) buf.cells = null
    else (0 until size).foreach { _ =>
      val k = new Array[Byte](in.readInt())
      in.readFully(k)
      val row = new UnsafeRow(keyTypes.length)
      row.pointTo(k, k.length)
      buf.cells.put(row, Array(in.readLong()))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): CellCounts = copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CellCounts = copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(e: Expression, y: Expression, f: Expression): CellCounts =
    copy(entries = e, y = y, fold = f)
}

object CellCounts {

  /** The cells of one buffer and the cap on new ones; `cells` is null once
    * a cap overflowed.
    */
  final class Cells(val cap: Long) {
    var cells: java.util.HashMap[UnsafeRow, Array[Long]] = new java.util.HashMap
    def overflowed: Boolean = cells == null

    private[CellCounts] def add(k: UnsafeRow, n: Long, cap: Long, copy: Boolean): Unit = {
      val c = cells.get(k)
      if (c != null) c(0) += n
      else if (cells.size >= cap) cells = null
      else { cells.put(if (copy) k.copy() else k, Array(n)); () }
    }
  }

  private def norm(d: Double): Double = if (d.isNaN) Double.NaN else if (d == 0.0) 0.0 else d

  /** The aggregate as a column over the input frame. */
  def column(entries: Column, y: Column, fold: Column, budget: Long): Column =
    ColumnBridge.column(CellCounts(ColumnBridge.expression(entries), ColumnBridge.expression(y),
      ColumnBridge.expression(fold), budget).toAggregateExpression())
}
