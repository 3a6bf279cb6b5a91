package graft.sources

import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType, TimestampNTZType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One traffic message → an array of zero or one `(value, event_ts)`
  * structs, for `inline`: the whole decode of [[TrafficSource.parse]] in
  * one expression, so the generator that drops rejected messages is also
  * the only operator that evaluates it.
  *
  * Fast path: [[TrafficDecoder]] scans the raw bytes once. It accepts only
  * the reference shape `{"value": "<v>", "timestamp": "<ts>"}` (those two
  * keys, in that order, JSON whitespace anywhere between tokens) where
  * `<v>` is printable ASCII without `"` or `\` and `<ts>` is a valid
  * 26-byte `yyyy-MM-dd'T'HH:mm:ss.SSSSSS` local time with exactly one
  * offset in the session time zone. For such a message `from_json` yields
  * `<v>` verbatim and `try_to_timestamp` yields the arithmetic result.
  *
  * Decline branch: every other message (escapes, non-ASCII or control
  * bytes, other keys or key orders, non-string values, truncation, any
  * timestamp the fast path does not decide, a zone gap or overlap) goes
  * to `json` and then `timestamp` on its `timestamp` field — the lenient
  * `from_json` / `try_to_timestamp` expressions, which stay the one
  * definition of the semantics. They are evaluated only for declined
  * rows, row by row, over their single input (ordinal 0), and are not
  * children: `from_json` has no generated code, and as a child it would
  * keep the whole operator out of whole-stage codegen. The message is
  * kept when the value and the timestamp are both non-null. Under the
  * LEGACY time parser policy the fast path is off and every row declines.
  */
case class TrafficDecode(raw: Expression, json: Expression, timestamp: Expression,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def child: Expression = raw
  override def nullable: Boolean = true
  override def prettyName: String = "graft_traffic_decode"

  // fields stay nullable: the reference parse's output schema, which
  // streaming state schemas checkpointed downstream were derived from
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", StringType),
    StructField("event_ts", timestamp.dataType))),
    containsNull = false)

  private def localTime: Boolean = timestamp.dataType == TimestampNTZType

  private lazy val (valueAt, timestampAt) = {
    val m = json.dataType.asInstanceOf[StructType]
    (m.fieldIndex("value"), m.fieldIndex("timestamp"))
  }

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val decoder = new TrafficDecoder(zoneId, localTime)

  override def eval(input: InternalRow): Any = {
    val r = raw.eval(input).asInstanceOf[UTF8String]
    if (r == null) null
    else if (decoder.decode(r)) TrafficDecode.single(decoder.value, decoder.micros)
    else declined(r)
  }

  /** The decline branch: the old parse, `from_json` then `try_to_timestamp`
    * of its timestamp field.
    */
  def declined(r: UTF8String): ArrayData = {
    val m = json.eval(new GenericInternalRow(Array[Any](r))).asInstanceOf[InternalRow]
    if (m == null) return null
    val v = m.getUTF8String(valueAt)
    val t = timestamp.eval(new GenericInternalRow(Array[Any](m.getUTF8String(timestampAt))))
    if (v == null || t == null) null else TrafficDecode.single(v, t.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[TrafficDecoder].getName
    val zone = ctx.addReferenceObj("zone", zoneId, classOf[ZoneId].getName)
    val d = ctx.addMutableState(cls, "decoder",
      v => s"$v = new $cls($zone, $localTime);", forceInline = true)
    val self = ctx.addReferenceObj("decode", this)
    val single = s"${TrafficDecode.getClass.getName}.MODULE$$.single"
    nullSafeCodeGen(ctx, ev, r => s"""
      |if ($d.decode($r)) {
      |  ${ev.value} = $single($d.value(), $d.micros());
      |} else {
      |  ${ev.value} = $self.declined($r);
      |  ${ev.isNull} = ${ev.value} == null;
      |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(raw = newChild)
}

object TrafficDecode {

  def apply(raw: Column, json: Expression, timestamp: Expression): Column =
    ColumnBridge.column(TrafficDecode(ColumnBridge.expression(raw), json, timestamp))

  /** The one-element result array: a fresh row per message, so a consumer
    * may hold it without copying.
    */
  def single(value: UTF8String, micros: Long): ArrayData =
    new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](value, micros))))
}

/** The byte-level fast path of [[TrafficDecode]]. One instance per task
  * (it caches the zone offset of the last local-time range it resolved);
  * not thread-safe.
  *
  * `decode` returns true only when it has decided the message exactly;
  * `value` and `micros` then hold the decoded pair. False means "declined":
  * the caller evaluates the lenient expressions.
  */
final class TrafficDecoder(zone: ZoneId, localTime: Boolean) {

  private val enabled =
    SQLConf.get.legacyTimeParserPolicy != LegacyBehaviorPolicy.LEGACY
  private val rules = zone.getRules

  // local epoch seconds in [lo, hi) map to UTC by subtracting `offset`
  private var lo = Long.MaxValue
  private var hi = Long.MinValue
  private var offset = 0L

  private var base: AnyRef = _
  private var at = 0L
  private var end = 0L

  private var v: UTF8String = _
  private var us = 0L

  def value: UTF8String = v
  def micros: Long = us

  def decode(raw: UTF8String): Boolean = {
    if (!enabled) return false
    base = raw.getBaseObject
    at = raw.getBaseOffset
    end = at + raw.numBytes
    ws()
    if (!byte('{') || !key(TrafficDecoder.ValueKey)) return false
    val vs = at
    while (at < end && { val b = peek; b >= 0x20 && b < 0x7f && b != '"' && b != '\\' })
      at += 1
    val ve = at
    if (!byte('"')) return false
    ws()
    if (!byte(',') || !key(TrafficDecoder.TimestampKey) ||
        end - at < 27 || !timestamp()) return false
    at += 26
    if (!byte('"')) return false
    ws()
    if (!byte('}')) return false
    ws()
    if (at != end) return false
    v = slice(vs, ve)
    true
  }

  private def peek: Byte = Platform.getByte(base, at)

  private def ws(): Unit =
    while (at < end && { val b = peek; b == ' ' || b == '\t' || b == '\n' || b == '\r' })
      at += 1

  private def byte(c: Char): Boolean =
    at < end && peek == c && { at += 1; true }

  /** `"key"`, optional whitespace, `:`, optional whitespace, then the
    * opening quote of a string value.
    */
  private def key(k: Array[Byte]): Boolean = {
    ws()
    if (end - at < k.length) return false
    var i = 0
    while (i < k.length) {
      if (Platform.getByte(base, at + i) != k(i)) return false
      i += 1
    }
    at += k.length
    ws()
    byte(':') && { ws(); byte('"') }
  }

  private def slice(s: Long, e: Long): UTF8String =
    if (e - s == 1 && Platform.getByte(base, s) == '1') TrafficDecoder.One
    else if (e - s == 1 && Platform.getByte(base, s) == '0') TrafficDecoder.Zero
    else UTF8String.fromAddress(base, s, (e - s).toInt).copy()

  private def digit(i: Int): Int = Platform.getByte(base, at + i) - '0'

  private def num(i: Int, n: Int): Int = {
    var r = 0
    var k = 0
    while (k < n) {
      val d = digit(i + k)
      if (d < 0 || d > 9) return -1
      r = r * 10 + d
      k += 1
    }
    r
  }

  private def sep(i: Int, c: Char): Boolean = Platform.getByte(base, at + i) == c

  /** The 26 bytes at `at` as a local date-time in range; sets `us`. */
  private def timestamp(): Boolean = {
    val year = num(0, 4)
    val month = num(5, 2)
    val day = num(8, 2)
    val hour = num(11, 2)
    val minute = num(14, 2)
    val second = num(17, 2)
    val frac = num(20, 6)
    if (!sep(4, '-') || !sep(7, '-') || !sep(10, 'T') || !sep(13, ':') ||
        !sep(16, ':') || !sep(19, '.') || frac < 0 || year < 1 ||
        month < 1 || month > 12 || day < 1 ||
        day > TrafficDecoder.monthLength(year, month) ||
        hour < 0 || hour > 23 || minute < 0 || minute > 59 ||
        second < 0 || second > 59) return false
    val local = TrafficDecoder.epochDay(year, month, day) * 86400L +
      hour * 3600L + minute * 60L + second
    if (localTime) { us = local * 1000000L + frac; true }
    else if ((local >= lo && local < hi) || resolve(local)) {
      us = (local - offset) * 1000000L + frac
      true
    } else false
  }

  /** Cache the longest run of local seconds around `local` that has one
    * valid offset; false when `local` itself falls in a gap or overlap.
    */
  private def resolve(local: Long): Boolean = {
    val offsets = rules.getValidOffsets(LocalDateTime.ofEpochSecond(local, 0, ZoneOffset.UTC))
    if (offsets.size != 1) return false
    val o = offsets.get(0).getTotalSeconds.toLong
    val instant = Instant.ofEpochSecond(local - o)
    val prev = rules.previousTransition(instant.plusSeconds(1))
    val next = rules.nextTransition(instant)
    lo = if (prev == null) Long.MinValue
      else prev.toEpochSecond + math.max(o, prev.getOffsetBefore.getTotalSeconds.toLong)
    hi = if (next == null) Long.MaxValue
      else next.toEpochSecond + math.min(o, next.getOffsetAfter.getTotalSeconds.toLong)
    offset = o
    true
  }
}

object TrafficDecoder {
  private val ValueKey = "\"value\"".getBytes("US-ASCII")
  private val TimestampKey = "\"timestamp\"".getBytes("US-ASCII")
  private val One = UTF8String.fromString("1")
  private val Zero = UTF8String.fromString("0")

  private def leap(y: Int): Boolean = (y % 4 == 0) && (y % 100 != 0 || y % 400 == 0)

  def monthLength(y: Int, m: Int): Int = m match {
    case 2 => if (leap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days from 1970-01-01 to a proleptic Gregorian date with year >= 0,
    * the arithmetic of `LocalDate.toEpochDay`.
    */
  def epochDay(y: Int, m: Int, d: Int): Long = {
    var total = 365L * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400
    total += (367 * m - 362) / 12 + d - 1
    if (m > 2) total -= (if (leap(y)) 1 else 2)
    total - 719528L
  }
}
