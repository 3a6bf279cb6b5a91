package graftbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

/** A seeded message set in the reference producer's format,
  * `{"value":"0"|"1","timestamp":"yyyy-MM-ddTHH:mm:ss.SSSSSS"}`, in creation
  * order, together with the ground truth the correctness checks use.
  *
  * Message `i` is created at `startMicros + i * 1e6 / ratePerSec` (its event
  * time); in the live workload it is also due at that offset from the
  * schedule's start.
  */
final class Traffic(val json: Array[String], val tsMicros: Array[Long],
    val one: Array[Boolean], val bad: Array[Boolean], val ratePerSec: Int) {

  def size: Int = json.length

  /** The first `n` messages. */
  def take(n: Int): Traffic =
    new Traffic(json.take(n), tsMicros.take(n), one.take(n), bad.take(n), ratePerSec)

  /** Messages the lenient decode must reject (truncated JSON or an
    * unparsable timestamp).
    */
  def malformed: Int = bad.count(identity)

  /** Exact 1-bit count per event-time window over the well-formed messages,
    * keyed by window end (epoch seconds). Windows start at multiples of
    * `slideSec` from the epoch, as Spark's `window` does. Every window that
    * holds a well-formed message is present, including those with no 1-bit.
    */
  def exactWindows(sizeSec: Long, slideSec: Long): Map[Long, Long] = {
    val out = mutable.HashMap.empty[Long, Long]
    var i = 0
    while (i < json.length) {
      if (!bad(i)) {
        val t = Math.floorDiv(tsMicros(i), 1000000L)
        var start = Math.floorDiv(t, slideSec) * slideSec
        while (start > t - sizeSec) {
          val end = start + sizeSec
          out(end) = out.getOrElse(end, 0L) + (if (one(i)) 1L else 0L)
          start -= slideSec
        }
      }
      i += 1
    }
    out.toMap
  }
}

object Traffic {

  /** Share of messages generated malformed. */
  val MalformedShare = 0.005

  /** `n` messages at `ratePerSec` of event time, starting at a
    * seed-derived second. P(value = 1) is 0.8 in odd 15 s slots of event
    * time and 0.1 in even ones (the reference producer's flip).
    */
  def generate(seed: Long, n: Int, ratePerSec: Int): Traffic = {
    val rnd = new SplittableRandom(seed)
    // a fixed 2024-01-01 base, shifted by the seed so window alignment varies
    val startMicros = (1704067200L + rnd.nextLong(3600L)) * 1000000L
    val json = new Array[String](n)
    val ts = new Array[Long](n)
    val one = new Array[Boolean](n)
    val bad = new Array[Boolean](n)
    val step = 1000000.0 / ratePerSec
    var prefixSec = Long.MinValue
    var prefix = ""
    var i = 0
    while (i < n) {
      val micros = startMicros + (i * step).toLong
      val sec = Math.floorDiv(micros, 1000000L)
      if (sec != prefixSec) {
        prefixSec = sec
        prefix = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).toString match {
          case s if s.length == 16 => s + ":00" // toString drops ":00" seconds
          case s => s
        }
      }
      val frac = (micros - sec * 1000000L).toInt
      val iso = prefix + "." + (1000000 + frac).toString.substring(1)
      val p = if (Math.floorDiv(sec, 15L) % 2 == 1) 0.8 else 0.1
      val bit = rnd.nextDouble() < p
      val v = if (bit) "1" else "0"
      val isBad = rnd.nextDouble() < MalformedShare
      json(i) =
        if (!isBad) s"""{"value":"$v","timestamp":"$iso"}"""
        else if (rnd.nextBoolean()) s"""{"value":"$v","timest"""
        else s"""{"value":"$v","timestamp":"${iso.replace('T', '/')}"}"""
      ts(i) = micros
      one(i) = bit
      bad(i) = isBad
      i += 1
    }
    new Traffic(json, ts, one, bad, ratePerSec)
  }
}
