package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** SimHash as a single custom aggregate (the TypedImperativeAggregate
  * case SURVEY.md §7.3 anticipates for sketch-style state): the buffer
  * is the 64-lane vote histogram, updated with one tight loop per input
  * hash instead of 64 separate `sum(bit)` aggregate columns. Input: a
  * 64-bit shingle hash; output: the packed simhash (bit i set iff ones
  * outnumber zeros in lane i — ties clear, matching the column form).
  */
case class SimhashAgg(child: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < 64) {
        buf(i) += (((h >>> i) & 1L).toInt << 1) - 1 // +1 for set bit, −1 otherwise
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Int]): Any = {
    var sim = 0L
    var i = 0
    while (i < 64) { if (buf(i) > 0) sim |= (1L << i); i += 1 }
    sim
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(64 * 4)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getInt())
  }

  override def withNewMutableAggBufferOffset(o: Int): SimhashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimhashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object SimhashAgg {
  val Name = "graft_simhash_agg"

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  /** Aggregate a column of 64-bit shingle hashes into a simhash. */
  def simhashOf(hash: Column): Column = call_function(Name, hash)
}
