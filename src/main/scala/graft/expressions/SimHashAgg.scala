package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** Native SimHash aggregate: folds a column of 64-bit token hashes
  * into one 64-bit SimHash per group.
  *
  * Buffer = 64 vote counters (bit b counter moves +1/−1 per token by
  * that bit of the hash); eval packs the counter signs. The buffer is
  * MERGEABLE (counters add), so map-side partial aggregation ships
  * 256 bytes per group instead of token hashes — and the whole vote
  * matrix is ONE expression instead of the 64 conditional-sum columns
  * the composed formulation needs (64-wide aggregates stress codegen
  * and the aggregate buffer layout; this keeps a single opaque slot).
  *
  * Semantics match `graft.functions.simhash64` ∘ xxhash64 and the
  * exploded formulation in `operators.Dedup.simhashValues`
  * (FunctionsSpec pins all three).
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  // Long counters: a group may see more than 2^31 tokens at the
  // scales this module targets; Int votes would wrap and flip sign
  // bits silently. 512 bytes per group is still negligible.
  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) buffer(b) += 1 else buffer(b) -= 1
        b += 1
      }
    }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any = {
    var sh = 0L
    var b = 0
    while (b < 64) {
      if (buffer(b) > 0) sh |= (1L << b)
      b += 1
    }
    sh
  }

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(64 * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getLong())
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_agg expects a BIGINT token-hash column (e.g. xxhash64(token)), " +
        s"got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashAgg =
    copy(child = newChildren.head)
}
