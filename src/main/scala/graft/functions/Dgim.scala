package graft.functions

/** DGIM (Datar–Gionis–Indyk–Motwani, "Maintaining Stream Statistics over
  * Sliding Windows", SIAM J. Comput. 2002): approximate count of 1-bits in
  * the last W time units of a bit stream using O(log² W) space.
  *
  * Semantics mirror the reference engine (cited file:line, not copied):
  *  - bucket = (timestamp seconds, size), newest first; each 1-bit inserts
  *    a size-1 bucket, then any 3 equal-size buckets merge the middle two
  *    (middle timestamp kept, size doubled)
  *    — /root/reference/src/main/java/com/bencejdanko/flink/DGIMAccumulator.java:129-160
  *  - buckets expire when latest - ts >= W — DGIMAccumulator.java:167-176
  *  - estimate = all bucket sizes except the oldest + a half of the oldest;
  *    the Java flagship rounds UP (ceil, DGIMAccumulator.java:75-95), the
  *    PyFlink variant rounds DOWN (size // 2, /root/reference/src/usrcode/
  *    job.py:37-46). Both published semantics are exposed via the
  *    `roundUp` flag on [[State.estimate]]; the flagship's round-up is the
  *    default everywhere.
  *
  * Hot-path design: the per-row add runs entirely on primitive Long
  * arrays (System.arraycopy insert/compact, no boxing, no ArrayBuffer) —
  * this is the inner loop of the DGIM aggregation ([[DgimEstimate]] and
  * the window exec), executed once per 1-bit message.
  *
  * The windowed SUM of bounded non-negative integers (Datar et al. §5)
  * is `bits` of these sketches, one per bit of the amount; the count is
  * the sum at `bits = 1`.
  */
object Dgim {

  /** Bit width of the sum sketch's binary decomposition: covers the
    * events table's cents domain at every SF (amounts saturate at
    * `(1 << SumBits) - 1`). The one constant the window exec, its SQL
    * replay and the SQL/streaming aggregate derive from.
    */
  val SumBits = 17

  /** Mergeable, Encoder-friendly DGIM state. `ts` and `size` are parallel
    * arrays, newest first.
    */
  case class State(windowSeconds: Long, latest: Long, ts: Array[Long], size: Array[Long]) {
    /** Flagship (round-up) estimate — DGIMAccumulator.java:75-95. */
    def estimate: Long = estimate(roundUp = true)

    /** `roundUp = true`: oldest bucket contributes ceil(size/2) (Java
      * flagship); `false`: floor(size/2) (PyFlink variant, job.py:37-46).
      *
      * Single-live-bucket case: the Java flagship returns that bucket's
      * FULL size (DGIMAccumulator.java:72-75); the PyFlink variant has no
      * special case and still floors it (job.py:37-46). Internally built
      * states always have a newest bucket of size 1, where both forms
      * coincide — the early return matters for externally constructed /
      * deserialized states, which must follow the published semantics too.
      */
    def estimate(roundUp: Boolean): Long = estimateAt(latest, roundUp)

    /** Estimate with the live-window cutoff taken at an EXTERNAL `now`
      * instead of this state's own latest — what a multi-instance sketch
      * (the §5 sum decomposition) needs: an instance whose bit was not
      * set by recent values has a stale `latest`, and evaluating it
      * there would count buckets the global clock has already expired.
      */
    def estimateAt(now: Long, roundUp: Boolean): Long = {
      // live prefix: buckets are newest-first; stop at the first expired
      var m = 0
      while (m < ts.length && now - ts(m) < windowSeconds) m += 1
      if (m == 0) 0L
      else if (m == 1 && roundUp) size(0)
      else {
        var total = 0L
        var i = 0
        while (i < m - 1) { total += size(i); i += 1 }
        total + (if (roundUp) (size(m - 1) + 1) / 2 else size(m - 1) / 2)
      }
    }
  }

  /** True when `v` is a 1-bit: exactly the strings for which
    * `v.trim.toIntOption.contains(1)` holds (the reference's lenient
    * `Integer.parseInt(value.trim()) == 1`), without allocating. After
    * trimming chars <= ' ', that is an optional `+`, then one or more
    * decimal digits (any Unicode `Character.digit`) that are all zeros
    * except a final one. A `-` sign can never give +1, and digits that
    * could overflow an Int are not all zeros, so neither needs a case.
    */
  def isOneBit(v: String): Boolean = {
    if (v == null) return false
    var lo = 0
    var hi = v.length
    while (lo < hi && v.charAt(lo) <= ' ') lo += 1
    while (hi > lo && v.charAt(hi - 1) <= ' ') hi -= 1
    if (lo < hi && v.charAt(lo) == '+') lo += 1
    if (lo >= hi || Character.digit(v.charAt(hi - 1), 10) != 1) return false
    var i = lo
    while (i < hi - 1) {
      if (Character.digit(v.charAt(i), 10) != 0) return false
      i += 1
    }
    true
  }

  def emptyState(windowSeconds: Long): State =
    State(windowSeconds, 0L, Array.empty, Array.empty)

  /** In-place triple-merge over the first `m` slots of newest-first
    * parallel bucket arrays (restart-scan loop shape matching the
    * reference, DGIMAccumulator.java:129-160). Returns the new length.
    */
  private def mergeTriplesInPlace(ts: Array[Long], sz: Array[Long], m0: Int): Int = {
    var m = m0
    var i = 0
    while (i + 2 < m) {
      if (sz(i) == sz(i + 1) && sz(i + 1) == sz(i + 2)) {
        sz(i + 1) *= 2
        System.arraycopy(ts, i + 3, ts, i + 2, m - i - 3)
        System.arraycopy(sz, i + 3, sz, i + 2, m - i - 3)
        m -= 1
        i = 0
      } else i += 1
    }
    m
  }

  /** Drop expired tail buckets (oldest are last). Returns the new length. */
  private def expireTail(ts: Array[Long], m0: Int, now: Long, w: Long): Int = {
    var m = m0
    while (m > 0 && now - ts(m - 1) >= w) m -= 1
    m
  }

  /** One 1-bit arriving at `tsSec`, applied to an immutable [[State]]:
    * exactly two primitive array allocations, no boxing. Folds to the
    * same state as [[Builder.add]].
    */
  def added(s: State, tsSec: Long): State = {
    val n = s.ts.length
    val ts = new Array[Long](n + 1)
    val sz = new Array[Long](n + 1)
    ts(0) = tsSec
    sz(0) = 1L
    System.arraycopy(s.ts, 0, ts, 1, n)
    System.arraycopy(s.size, 0, sz, 1, n)
    var m = mergeTriplesInPlace(ts, sz, n + 1)
    m = expireTail(ts, m, tsSec, s.windowSeconds)
    State(s.windowSeconds, math.max(s.latest, tsSec),
      if (m == ts.length) ts else java.util.Arrays.copyOf(ts, m),
      if (m == sz.length) sz else java.util.Arrays.copyOf(sz, m))
  }

  /** Mutable builder: reusable primitive arrays with capacity growth,
    * O(#buckets) arraycopy per add. The per-row path of [[DgimEstimate]]
    * and of the window exec.
    */
  final class Builder(val windowSeconds: Long) {
    private var bts = new Array[Long](16)
    private var bsz = new Array[Long](16)
    private var n = 0
    private var latest = 0L

    def add(tsSeconds: Long): Unit = {
      latest = math.max(latest, tsSeconds)
      if (n == bts.length) {
        bts = java.util.Arrays.copyOf(bts, n * 2)
        bsz = java.util.Arrays.copyOf(bsz, n * 2)
      }
      System.arraycopy(bts, 0, bts, 1, n)
      System.arraycopy(bsz, 0, bsz, 1, n)
      bts(0) = tsSeconds
      bsz(0) = 1L
      n = mergeTriplesInPlace(bts, bsz, n + 1)
      n = expireTail(bts, n, tsSeconds, windowSeconds)
    }

    def state: State = State(windowSeconds, latest,
      java.util.Arrays.copyOf(bts, n), java.util.Arrays.copyOf(bsz, n))

    def loadFrom(s: State): Builder = {
      latest = s.latest
      n = s.ts.length
      if (bts.length < n) { bts = new Array[Long](n); bsz = new Array[Long](n) }
      System.arraycopy(s.ts, 0, bts, 0, n)
      System.arraycopy(s.size, 0, bsz, 0, n)
      this
    }

    def rebalanceAndExpire(): Unit = {
      n = mergeTriplesInPlace(bts, bsz, n)
      n = expireTail(bts, n, latest, windowSeconds)
    }
  }

  /** Deterministic batch path: sorted 1-bit timestamps → estimate at the
    * max timestamp. This is the reference PyFlink job's semantics
    * (sort-then-fold, /root/reference/src/usrcode/job.py:75-93) with the
    * flagship's round-up estimate by default.
    */
  def estimateSorted(sortedTsSeconds: Array[Long], windowSeconds: Long,
      roundUp: Boolean = true): Long = {
    val b = new Builder(windowSeconds)
    var i = 0
    while (i < sortedTsSeconds.length) { b.add(sortedTsSeconds(i)); i += 1 }
    b.state.estimate(roundUp)
  }

  /** Canonical merge of two states: concat, sort desc, re-merge, expire. */
  def merge(a: State, b: State): State = {
    val w = math.max(a.windowSeconds, b.windowSeconds)
    val pairs = (a.ts.zip(a.size) ++ b.ts.zip(b.size)).sortBy(-_._1)
    val builder = new Builder(w)
    builder.loadFrom(State(w, math.max(a.latest, b.latest),
      pairs.map(_._1), pairs.map(_._2)))
    builder.rebalanceAndExpire()
    builder.state
  }
}
