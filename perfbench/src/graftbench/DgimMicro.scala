package graftbench

import java.util.SplittableRandom

import graft.functions.Dgim

/** Timed calls into `graft.functions.Dgim` on seeded bit streams: the
  * aggregate's per-row path (`Dgim.added`), its merge (`Dgim.merge`) and the
  * mutable batch builder (`Dgim.Builder.add`). Each figure is the median of
  * several rounds after one untimed warm-up round.
  */
object DgimMicro {

  private val Rounds = 3

  /** 1-bit timestamps in seconds, non-decreasing, about `perSec` per second. */
  def bits(seed: Long, n: Int, perSec: Int): Array[Long] = {
    val rnd = new SplittableRandom(seed)
    val out = new Array[Long](n)
    var t = 1704067200L
    var i = 0
    while (i < n) {
      if (rnd.nextInt(perSec) == 0) t += 1
      out(i) = t
      i += 1
    }
    out
  }

  /** Median ns of `rounds` runs of `body`. Each body folds its result into
    * a sink that is printed only if impossible, so the JIT cannot drop it.
    */
  private def timed(rounds: Int)(body: => Unit): Double = {
    body
    Stats.median((1 to rounds).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0).toDouble
    })
  }

  /** ns per bit through `Dgim.added`, the udaf's reduce path. */
  def addedNsPerBit(stream: Array[Long]): Double = {
    var sink = 0L
    val ns = timed(Rounds) {
      var s = Dgim.emptyState(Engine.WindowSec)
      var i = 0
      while (i < stream.length) { s = Dgim.added(s, stream(i)); i += 1 }
      sink += s.estimate
    }
    if (sink == Long.MinValue) println(sink)
    ns / stream.length
  }

  /** ns per bit through `Dgim.Builder.add`, the batch queries' path. */
  def builderNsPerBit(stream: Array[Long]): Double = {
    var sink = 0L
    val ns = timed(Rounds) {
      val b = new Dgim.Builder(Engine.WindowSec)
      var i = 0
      while (i < stream.length) { b.add(stream(i)); i += 1 }
      sink += b.state.estimate
    }
    if (sink == Long.MinValue) println(sink)
    ns / stream.length
  }

  /** µs per `Dgim.merge` of two states built over the same stretch of
    * time, as two partitions of one window produce them.
    */
  def mergeUs(seed: Long, pairs: Int, bitsPerState: Int): Double = {
    val states = (0 until pairs).map { p =>
      val stream = bits(seed + p, 2 * bitsPerState, 500)
      val a = new Dgim.Builder(Engine.WindowSec)
      val b = new Dgim.Builder(Engine.WindowSec)
      stream.indices.foreach(i => if (i % 2 == 0) a.add(stream(i)) else b.add(stream(i)))
      (a.state, b.state)
    }
    val reps = 20
    var sink = 0L
    val ns = timed(Rounds) {
      var r = 0
      while (r < reps) {
        states.foreach { case (a, b) => sink += Dgim.merge(a, b).estimate }
        r += 1
      }
    }
    if (sink == Long.MinValue) println(sink)
    ns / 1000.0 / (pairs * reps)
  }
}
