package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** The DGIM windowed estimate as a native Catalyst aggregate — the
  * reference's registered `DGIM_ESTIMATE(value, ts_seconds)`
  * (StreamingJob.java:57-58), generalized to sums (Datar et al. §5).
  *
  * The input's type picks the form:
  *  - STRING `value`: the count. A row is a 1-bit when [[Dgim.isOneBit]]
  *    holds (the reference's lenient accumulate); one sketch.
  *  - BIGINT `value`: the sum. The amount saturates at `2^bits − 1`,
  *    amounts ≤ 0 are skipped, and each set bit j feeds sketch j; the
  *    estimate is Σ_j 2^j · estimate_j. Each sketch keeps the counting
  *    bound, so |est − exact| ≤ exact / 2 (+ ≤ 1 per sketch from
  *    round-up).
  * A row with a null `value` or `ts_sec` is dropped (the reference's
  * drop-nulls, job.py).
  *
  * The buffer is one mutable [[Dgim.Builder]] per sketch; partial
  * buffers combine by [[Dgim.merge]] per sketch, and `eval` takes every
  * sketch's estimate at the GLOBAL latest timestamp: a sketch whose bit
  * recent amounts never set has a stale clock, and its expired buckets
  * must not count. `roundUp` picks the flagship's ceil or the PyFlink
  * variant's floor of the oldest bucket ([[Dgim.State.estimate]]).
  *
  * Ordering: each update inserts at the newest-first head and expires
  * at the arriving timestamp, so it assumes non-decreasing event time
  * within a partition (cross-partition disorder is repaired by the
  * sort-based canonical merge). Streaming micro-batches arrive in
  * watermark order; pre-sort unordered sources.
  */
case class DgimEstimate(value: Expression, tsSec: Expression, windowSeconds: Long,
    bits: Int, roundUp: Boolean, mutableAggBufferOffset: Int,
    inputAggBufferOffset: Int)
    extends TypedImperativeAggregate[Array[Dgim.Builder]] with BinaryLike[Expression] {

  override def left: Expression = value
  override def right: Expression = tsSec
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String =
    getTagValue(FunctionRegistry.FUNC_ALIAS).getOrElse("dgim_estimate")

  override def checkInputDataTypes(): TypeCheckResult =
    (value.dataType, tsSec.dataType) match {
      case (_: StringType | LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (v, t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (STRING or BIGINT value, BIGINT ts_sec), " +
          s"got (${v.catalogString}, ${t.catalogString})")
    }

  private lazy val countForm = value.dataType.isInstanceOf[StringType]
  private lazy val sketches = if (countForm) 1 else bits
  private lazy val maxAmount = (1L << bits) - 1

  override def createAggregationBuffer(): Array[Dgim.Builder] =
    Array.fill(sketches)(new Dgim.Builder(windowSeconds))

  override def update(buf: Array[Dgim.Builder], row: InternalRow): Array[Dgim.Builder] = {
    val v = value.eval(row)
    val t = tsSec.eval(row)
    if (v != null && t != null) {
      val ts = t.asInstanceOf[Long]
      if (countForm) {
        if (Dgim.isOneBit(v.toString)) buf(0).add(ts)
      } else {
        val amount = math.min(v.asInstanceOf[Long], maxAmount)
        var j = 0
        while (j < bits && amount > 0L) {
          if (((amount >> j) & 1L) == 1L) buf(j).add(ts)
          j += 1
        }
      }
    }
    buf
  }

  override def merge(buf: Array[Dgim.Builder], in: Array[Dgim.Builder]): Array[Dgim.Builder] = {
    var j = 0
    while (j < buf.length) {
      buf(j).loadFrom(Dgim.merge(buf(j).state, in(j).state))
      j += 1
    }
    buf
  }

  override def eval(buf: Array[Dgim.Builder]): Any = {
    val states = buf.map(_.state)
    val latest = states.map(_.latest).max
    var total = 0L
    var j = 0
    while (j < states.length) {
      total += (1L << j) * states(j).estimateAt(latest, roundUp)
      j += 1
    }
    total
  }

  /** Per sketch: latest, bucket count n, n timestamps, n sizes. This is
    * the state-store format of a streaming aggregation.
    */
  override def serialize(buf: Array[Dgim.Builder]): Array[Byte] = {
    val states = buf.map(_.state)
    val out = ByteBuffer.allocate(states.map(12 + 16 * _.ts.length).sum)
    states.foreach { s =>
      out.putLong(s.latest).putInt(s.ts.length)
      s.ts.foreach(out.putLong)
      s.size.foreach(out.putLong)
    }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Dgim.Builder] = {
    val in = ByteBuffer.wrap(bytes)
    Array.fill(sketches) {
      val latest = in.getLong()
      val n = in.getInt()
      val ts = Array.fill(n)(in.getLong())
      val size = Array.fill(n)(in.getLong())
      new Dgim.Builder(windowSeconds)
        .loadFrom(Dgim.State(windowSeconds, latest, ts, size))
    }
  }

  override def withNewMutableAggBufferOffset(offset: Int): DgimEstimate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): DgimEstimate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DgimEstimate =
    copy(value = newLeft, tsSec = newRight)
}

object DgimEstimate {
  /** Column-API entry point: `DgimEstimate(value, ts_sec, W)` as an
    * aggregate column (count form for a STRING value, sum form for a
    * BIGINT one).
    */
  def apply(value: Column, tsSec: Column, windowSeconds: Long,
      roundUp: Boolean = true, bits: Int = Dgim.SumBits): Column =
    ColumnBridge.column(DgimEstimate(ColumnBridge.expression(value),
      ColumnBridge.expression(tsSec), windowSeconds, bits, roundUp, 0, 0)
      .toAggregateExpression())
}
