package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Misra-Gries heavy-hitters sketch as a custom typed aggregate — the
  * UDAF tier of the custom-operator ladder (SURVEY.md §2.11 names the
  * `Aggregator` option; this is its Catalyst-native form, planned by
  * ObjectHashAggregate with map-side partial aggregation and a
  * mergeable fixed-size buffer, the properties that make a sketch
  * worth having at 100 TB).
  *
  * Summary of at most `k-1` (item, weight) entries. GUARANTEE (the
  * classic MG bound, preserved under arbitrary merge order): every item
  * with true frequency > n/k appears in the summary, and each reported
  * weight underestimates the true count by at most n/k. The summary
  * CONTENT beyond that (extra items, exact weights) is partitioning-
  * dependent — consumers must rely only on the guarantee, which is
  * exactly what the correctness gate asserts.
  *
  * Merge: add weights of shared items, then decrement all by the k-th
  * largest weight and drop non-positive entries (Agarwal et al.,
  * "Mergeable Summaries", PODS'12) — keeps the error bound additive
  * across partitions.
  */
case class MisraGriesExpr(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.LongMap[Long]] {

  require(k >= 2, "k must be >= 2")

  // update() casts the child value straight to Long, so reject anything
  // else at analysis time rather than ClassCastException-ing on an
  // executor (string items are hashed first: misra_gries(xxhash64(c))).
  // (checkInputDataTypes, not ExpectsInputTypes: AbstractDataType is
  // private[sql], so the trait's signature can't be written out here.)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"misra_gries requires a BIGINT item (got ${child.dataType.simpleString});" +
        " hash other types first, e.g. misra_gries(xxhash64(col), k)")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", LongType, nullable = false),
      StructField("weight", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "misra_gries"

  override def createAggregationBuffer(): mutable.LongMap[Long] =
    mutable.LongMap.empty[Long]

  override def update(buf: mutable.LongMap[Long], input: InternalRow): mutable.LongMap[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[Long]
      if (buf.contains(item)) buf(item) += 1L
      else if (buf.size < k - 1) buf(item) = 1L
      else {
        // decrement-all; drop zeros
        val dead = mutable.ArrayBuffer.empty[Long]
        buf.foreachEntry((key, w) => if (w == 1L) dead += key else buf(key) = w - 1L)
        dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.LongMap[Long], other: mutable.LongMap[Long]): mutable.LongMap[Long] = {
    other.foreachEntry((key, w) => buf(key) = buf.getOrElse(key, 0L) + w)
    if (buf.size > k - 1) {
      // subtract the k-th largest weight, drop non-positive
      val weights = buf.values.toArray.sorted(Ordering[Long].reverse)
      val cut = weights(k - 1)
      val dead = mutable.ArrayBuffer.empty[Long]
      buf.foreachEntry((key, w) => if (w - cut <= 0L) dead += key else buf(key) = w - cut)
      dead.foreach(buf.remove)
    }
    buf
  }

  /** Deterministic presentation: weight desc, item asc. */
  override def eval(buf: mutable.LongMap[Long]): Any = {
    val rows = buf.toSeq.sortBy { case (item, w) => (-w, item) }
      .map { case (item, w) => InternalRow(item, w) }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: mutable.LongMap[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreachEntry((key, w) => { bb.putLong(key); bb.putLong(w) })
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = mutable.LongMap.empty[Long]
    var i = 0
    while (i < n) { buf(bb.getLong) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MisraGriesExpr =
    copy(child = c.head)
}

object MisraGriesExpr {
  /** Column-API entry point: heavy-hitters summary of a LONG column
    * (hash string items first — `xxhash64`). Returns
    * array<struct<item,weight>> sorted weight desc, item asc. */
  def apply(c: Column, k: Int): Column =
    ColumnBridge.column(
      new MisraGriesExpr(ColumnBridge.expression(c), k).toAggregateExpression())
}
