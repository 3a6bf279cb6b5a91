package graft

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.functions.Dgim

/** Mergeable state of the reference sum sketch: one independent
  * [[Dgim.State]] per bit position, newest-first inside each.
  */
case class DgimSumState(windowSeconds: Long, states: Seq[Dgim.State])

/** One (amount, event-time) pair for the reference sum sketch. */
case class SumEvent(amount: Long, tsSec: Long)

/** Reference for [[graft.functions.DgimEstimate]]: the typed `Aggregator`
  * form of the DGIM sum sketch (Datar et al. 2002 §5), built on the
  * immutable [[Dgim.added]] path. Each amount feeds a 1-bit into the
  * instance of every set bit; the estimate is Σ_j 2^j · estimate_j taken
  * at the global latest timestamp. Amounts ≤ 0 are skipped, oversized
  * ones saturate at 2^bits − 1. At `bits = 1`, fed 1 for each row where
  * [[Dgim.isOneBit]] holds, it is the count sketch.
  *
  * Through `udaf` its encoder decodes a null BIGINT as 0, so a null
  * timestamp lands at epoch 0: parity inputs carry none.
  */
class DgimSumAggregator(windowSeconds: Long, bits: Int, roundUp: Boolean = true)
    extends Aggregator[SumEvent, DgimSumState, Long] {
  override def zero: DgimSumState =
    DgimSumState(windowSeconds, Vector.fill(bits)(Dgim.emptyState(windowSeconds)))
  override def reduce(b: DgimSumState, e: SumEvent): DgimSumState = {
    if (e.amount <= 0L) b
    else {
      val v = math.min(e.amount, (1L << bits) - 1)
      val out = b.states.toArray
      var j = 0
      while (j < bits) {
        if (((v >> j) & 1L) == 1L)
          out(j) = Dgim.added(out(j), e.tsSec)
        j += 1
      }
      DgimSumState(b.windowSeconds,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
    }
  }
  override def merge(a: DgimSumState, b: DgimSumState): DgimSumState =
    DgimSumState(a.windowSeconds,
      a.states.zip(b.states).map { case (x, y) => Dgim.merge(x, y) })
  override def finish(r: DgimSumState): Long = {
    var latest = 0L
    r.states.foreach(s => latest = math.max(latest, s.latest))
    var total = 0L
    var j = 0
    while (j < r.states.length) {
      total += (1L << j) * r.states(j).estimateAt(latest, roundUp)
      j += 1
    }
    total
  }
  override def bufferEncoder: Encoder[DgimSumState] = Encoders.product[DgimSumState]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}
