package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneId}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{TrafficDecoder, TrafficSource}

/** The native traffic decode against its definition: the lenient
  * `from_json` + `try_to_timestamp` parse it replaced, on generated
  * messages that hit both the fast path and every decline reason.
  */
class TrafficDecodeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The parse before the native decode: the reference definition. */
  private def referenceParse(messages: DataFrame): DataFrame =
    messages
      .select(col("id"), from_json(col("raw"), TrafficSource.messageSchema).as("m"))
      .select(col("id"), col("m.value").as("value"),
        try_to_timestamp(col("m.timestamp"), lit(TrafficSource.IsoMicros)).as("event_ts"))
      .withColumn("ts_sec", unix_timestamp(col("event_ts")))
      .filter(col("value").isNotNull && col("ts_sec").isNotNull)

  private def nativeParse(messages: DataFrame): DataFrame =
    messages.select(col("id"), inline(TrafficSource.decoded(spark, col("raw"))))
      .withColumn("ts_sec", unix_timestamp(col("event_ts")))

  // ---- message generator ------------------------------------------------

  private val ws = Gen.frequency(6 -> "", 2 -> " ",
    1 -> Gen.listOfN(3, Gen.oneOf(" ", "\t", "\n", "\r")).map(_.mkString))

  private def quoted(s: String) = "\"" + s + "\""

  private val printable = Gen.choose(0x20, 0x7e).map(_.toChar)

  private val valueToken: Gen[String] = Gen.frequency(
    30 -> Gen.oneOf("0", "1").map(quoted),
    5 -> Gen.oneOf("", " 1 ", "+1", "001", "1.0", "-1", "yes").map(quoted),
    5 -> Gen.listOf(printable).map(_.mkString.filter(c => c != '"' && c != '\\')).map(quoted),
    3 -> Gen.oneOf("""\"1""", """1""", """a\\b""", """\n""").map(quoted),
    3 -> Gen.oneOf("é", "日本", "1\u0001", "\t1", "\u007f").map(quoted),
    3 -> Gen.oneOf("1", "0", "1.5", "true", "false", "null", "[1]", "{}"))

  private def iso(t: LocalDateTime): String =
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d" +
      f"T${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${t.getNano / 1000}%06d"

  private val validTime: Gen[LocalDateTime] = for {
    epochSec <- Gen.frequency(
      4 -> Gen.choose(1704067200L, 1704067200L + 400L * 86400L), // 2024-25
      1 -> Gen.choose(-62135596800L, 253402300799L))              // years 1-9999
    micros <- Gen.choose(0, 999999)
  } yield LocalDateTime.ofEpochSecond(epochSec, micros * 1000, java.time.ZoneOffset.UTC)

  /** Local times in and next to America/Los_Angeles' 2024 transitions:
    * 02:00-03:00 on Mar 10 does not exist, 01:00-02:00 on Nov 3 twice.
    */
  private val dstTime: Gen[String] = for {
    day <- Gen.oneOf("2024-03-10", "2024-11-03")
    hour <- Gen.choose(0, 3)
    minute <- Gen.oneOf(0, 1, 30, 59)
    second <- Gen.oneOf(0, 59)
    frac <- Gen.oneOf("000000", "999999", "123456")
  } yield f"${day}T$hour%02d:$minute%02d:$second%02d.$frac"

  private val badTime: Gen[String] = validTime.map(iso).flatMap { s =>
    Gen.oneOf(
      s.substring(0, 5) + "13" + s.substring(7),      // month 13
      "2023-02-29" + s.substring(10),                  // not a leap year
      s.substring(0, 11) + "24" + s.substring(13),     // hour 24
      s.substring(0, 17) + "60" + s.substring(19),     // second 60
      s.dropRight(1),                                  // 5 fraction digits
      s + "7",                                         // 7 fraction digits
      s.replace('T', '/'),
      s.replace('T', 't'),
      s.replace('T', ' '),
      "0000" + s.substring(4),
      s.substring(0, 10) + "\\u0054" + s.substring(11), // escaped T
      s.substring(0, 19),                              // no fraction
      "yesterday")
  }

  private val timestampToken: Gen[String] = Gen.frequency(
    20 -> validTime.map(iso).map(quoted),
    5 -> dstTime.map(quoted),
    6 -> badTime.map(quoted),
    2 -> Gen.oneOf("1704067200", "null", "true"))

  /** A message as bytes: layout, keys and values mixed, then perhaps
    * truncated or corrupted below the string level.
    */
  private val message: Gen[Array[Byte]] = for {
    v <- valueToken
    t <- timestampToken
    ws0 <- Gen.listOfN(8, ws)
    canonical <- Gen.oneOf(true, false)
    fields <- Gen.frequency(
      20 -> Seq("\"value\"" -> v, "\"timestamp\"" -> t),
      2 -> Seq("\"timestamp\"" -> t, "\"value\"" -> v),
      1 -> Seq("\"value\"" -> v, "\"value\"" -> v, "\"timestamp\"" -> t),
      1 -> Seq("\"value\"" -> quoted("0"), "\"value\"" -> v, "\"timestamp\"" -> t),
      1 -> Seq("\"value\"" -> v, "\"timestamp\"" -> t, "\"timestamp\"" -> t),
      1 -> Seq("\"value\"" -> v, "\"timestamp\"" -> t, "\"extra\"" -> "1"),
      1 -> Seq("\"value\"" -> v),
      1 -> Seq("\"Value\"" -> v, "\"timestamp\"" -> t),
      1 -> Seq("\"val\\u0075e\"" -> v, "\"timestamp\"" -> t))
    damage <- Gen.frequency(20 -> 0, 2 -> 1, 1 -> 2, 1 -> 3)
    cut <- Gen.choose(0.0, 1.0)
    junk <- Gen.oneOf(Array(0xff.toByte), Array(0xc3.toByte, 0x28.toByte),
      Array(0x00.toByte), Array('x'.toByte))
  } yield {
    val (kv, comma, open, close) =
      if (canonical) (": ", ", ", "{", "}")
      else (ws0(1) + ":" + ws0(2), ws0(3) + "," + ws0(4), ws0(0) + "{" + ws0(5),
        ws0(6) + "}" + ws0(7))
    val s = fields.map { case (k, x) => k + kv + x }.mkString(open, comma, close)
    val b = s.getBytes(UTF_8)
    damage match {
      case 0 => b
      case 1 => b.take((b.length * cut).toInt)             // truncated
      case 2 =>                                            // invalid bytes inside
        val at = (b.length * cut).toInt
        b.take(at) ++ junk ++ b.drop(at)
      case _ => b ++ junk                                   // trailing junk
    }
  }

  private def frame(msgs: Seq[Array[Byte]]): DataFrame = {
    import spark.implicits._
    msgs.zipWithIndex.map { case (m, i) => (i, m) }.toDF("id", "bytes")
      // binary → string keeps the bytes as they are, invalid UTF-8 included
      .select(col("id"), col("bytes").cast("string").as("raw"))
  }

  // event_ts as a string keeps its micros for both timestamp types; ts_sec
  // pins the instant where a DST overlap prints two instants alike
  private def rows(df: DataFrame): Seq[Row] =
    df.select(col("id"), col("value"), col("event_ts").cast("string"), col("ts_sec"))
      .collect().toSeq.sortBy(_.getInt(0))

  private def show(msgs: Seq[Array[Byte]], r: Seq[Row]): String =
    r.take(5).map(x => s"${x.getInt(0)}: ${new String(msgs(x.getInt(0)), UTF_8)} -> $x")
      .mkString("\n")

  /** Native ≡ reference on 8 generated batches of 300 messages, under the
    * session settings `conf` (time zone, codegen mode, timestamp type,
    * parser policy).
    */
  private def checkParity(seed: Long, conf: (String, String)*): Unit = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val prop = Prop.forAllNoShrink(Gen.listOfN(300, message)) { msgs =>
        val df = frame(msgs)
        val want = rows(referenceParse(df))
        val got = rows(nativeParse(df))
        // and the public entry point: same multiset without the ids
        val viaParse = TrafficSource.parse(df).select("value", "event_ts", "ts_sec")
          .collect().map(_.toString).sorted.toSeq
        val wantNoId = referenceParse(df).select("value", "event_ts", "ts_sec")
          .collect().map(_.toString).sorted.toSeq
        val diff = got.diff(want) ++ want.diff(got)
        Prop(diff.isEmpty && viaParse == wantNoId) :|
          s"${conf.mkString(" ")}: kept ${got.size} vs ${want.size}:\n" + show(msgs, diff)
      }
      val res = Test.check(Test.Parameters.default
        .withMinSuccessfulTests(8).withInitialSeed(Seed(seed)).withWorkers(1), prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val LA = "spark.sql.session.timeZone" -> "America/Los_Angeles"
  private val Interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  test("native decode ≡ from_json + try_to_timestamp on generated messages (UTC)") {
    checkParity(11L)
  }

  test("native decode ≡ from_json + try_to_timestamp in America/Los_Angeles, " +
      "across the spring-forward gap and the fall-back overlap") {
    checkParity(12L, LA)
  }

  test("the interpreted path agrees too (no whole-stage codegen)") {
    checkParity(13L, Interpreted: _*)
    checkParity(14L, LA +: Interpreted: _*)
  }

  test("TIMESTAMP_NTZ sessions and the LEGACY time parser policy agree too") {
    checkParity(15L, LA, "spark.sql.timestampType" -> "TIMESTAMP_NTZ")
    checkParity(16L, LA, "spark.sql.legacy.timeParserPolicy" -> "LEGACY")
  }

  test("parse keeps the reference output schema, nullability included") {
    val df = frame(Seq("""{"value":"1","timestamp":"2024-01-01T00:00:01.000000"}""".getBytes(UTF_8)))
    assert(TrafficSource.parse(df).schema === referenceParse(df).drop("id").schema)
  }

  test("the fast path decides the benchmark's forms and declines what it cannot decide") {
    val utc = new TrafficDecoder(ZoneId.of("UTC"), localTime = false)
    val la = new TrafficDecoder(ZoneId.of("America/Los_Angeles"), localTime = false)
    def accepts(d: TrafficDecoder, s: String) = d.decode(UTF8String.fromString(s))
    val ts = "2024-01-01T00:00:01.250000"
    for (s <- Seq(s"""{"value":"1","timestamp":"$ts"}""",
        s"""{"value": "0", "timestamp": "$ts"}""",
        s""" {\t"value" :"1" ,"timestamp":  "$ts"}\n""")) {
      assert(accepts(utc, s), s)
      assert(utc.micros === 1704067201250000L)
    }
    assert(accepts(la, s"""{"value":"1","timestamp":"$ts"}"""))
    assert(la.micros === 1704067201250000L + 8L * 3600 * 1000000)
    for (s <- Seq(s"""{"value":"1","timest""",
        s"""{"value":"1","timestamp":"${ts.replace('T', '/')}"}""",
        s"""{"timestamp":"$ts","value":"1"}""",
        s"""{"value":"\\u0031","timestamp":"$ts"}""",
        s"""{"value":1,"timestamp":"$ts"}""",
        s"""{"value":"1","timestamp":"$ts"} x"""))
      assert(!accepts(utc, s), s)
    // the gap and the overlap decline; the hours next to them do not
    assert(!accepts(la, """{"value":"1","timestamp":"2024-03-10T02:30:00.000000"}"""))
    assert(!accepts(la, """{"value":"1","timestamp":"2024-11-03T01:30:00.000000"}"""))
    assert(accepts(la, """{"value":"1","timestamp":"2024-03-10T03:00:00.000000"}"""))
    assert(accepts(la, """{"value":"1","timestamp":"2024-11-03T02:00:00.000000"}"""))
    assert(accepts(utc, """{"value":"1","timestamp":"2024-11-03T01:30:00.000000"}"""))
  }

  test("epochDay and monthLength agree with java.time for every year 1-9999") {
    var y = 1
    while (y <= 9999) {
      for (m <- 1 to 12) {
        val d = java.time.LocalDate.of(y, m, 1)
        assert(TrafficDecoder.monthLength(y, m) === d.lengthOfMonth())
        assert(TrafficDecoder.epochDay(y, m, d.lengthOfMonth()) ===
          d.withDayOfMonth(d.lengthOfMonth()).toEpochDay)
      }
      y += 1
    }
  }
}
