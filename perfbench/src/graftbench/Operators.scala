package graftbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.StreamQueries

/** The operator-suite leg of a traced run: the `SparkEntry.queries` rows
  * that read only the `events` table, run in pinned order over a seeded
  * events table written into the run's scratch directory. Each row's timed
  * action is `write.format("noop")`, which computes every column. Its count
  * is taken outside the timer, for the DuckDB check that `run.py` makes
  * against `SparkEntry.oracleSql`.
  */
object Operators {

  /** (row, module that implements it), in run order. */
  val Rows: Seq[(String, String)] = Seq(
    "q_tumble_count" -> "Windows",
    "q_dgim_tumble" -> "DgimQueries",
    "q_dgim_slide" -> "DgimQueries",
    "q_transitions" -> "Behavior",
    "q_stream_tumble" -> "StreamQueries",
    "q_stream_dgim_slide" -> "StreamQueries")

  val Modules: Seq[String] = Rows.map(_._2).distinct

  /** Events in the table: a fifth of the sf0.1 table, so the leg stays short. */
  val Events = 20000

  /** DumpCache artifacts the rows read, published before any row is timed. */
  val Staged = Set("traffic_msgs")

  val EventTypes = Array("click", "view", "purchase", "signup", "error")

  /** `n` events over 30 days from 2024-01-01, in the schema of the
    * program's `events` table (naive timestamps), as one parquet file
    * `dir/events.parquet`.
    */
  def writeEvents(spark: SparkSession, seed: Long, n: Int, dir: String): Unit = {
    val rnd = new SplittableRandom(seed)
    val start = 1704067200L * 1000000L
    val span = 30L * 86400L * 1000000L
    val ts = Array.fill(n)(start + rnd.nextLong(span)).sorted
    val rows = (0 until n).map { i =>
      Row(i.toLong, java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(ts(i), 1000000L), (Math.floorMod(ts(i), 1000000L) * 1000).toInt,
          java.time.ZoneOffset.UTC),
        rnd.nextLong(1500L), EventTypes(rnd.nextInt(EventTypes.length)),
        rnd.nextInt(20000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val tmp = s"$dir/events.tmp"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    part.renameTo(new File(dir, "events.parquet"))
    Engine.deleteRecursively(new File(tmp))
  }

  final case class Result(name: String, module: String, seconds: Double, count: Long,
      streaming: Boolean, durations: Map[String, Double], error: Option[String])

  /** Run every row once. A failed row keeps its time and its error. */
  def run(spark: SparkSession, dir: String, tracer: Tracer): Seq[Result] = {
    tracer.span("operators.staging") {
      graft.Staging.stagers.filter(st => Staged(st._1)).foreach(_._2(spark, dir))
    }
    Rows.map { case (name, module) =>
      val streaming = name.startsWith("q_stream_")
      StreamQueries.lastProgress = None
      val t0 = System.nanoTime()
      val attempt = tracer.span(s"row.$name") {
        scala.util.Try {
          val df = SparkEntry.queries(name)(spark, dir)
          df.write.format("noop").mode("overwrite").save()
          df
        }
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      val count = attempt.map(_.count()).getOrElse(-1L)
      val durations = StreamQueries.lastProgress.filter(_ => streaming)
        .map(progressDurations).getOrElse(Map.empty)
      StreamQueries.releaseHarnessSinks()
      spark.catalog.clearCache()
      Result(name, module, seconds, count, streaming, durations,
        attempt.failed.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"))
    }
  }

  /** `durationMs` of a progress report's JSON, in ms. */
  def progressDurations(json: String): Map[String, Double] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get("durationMs")
    if (node == null) Map.empty
    else {
      val out = Map.newBuilder[String, Double]
      node.fields().forEachRemaining(e => out += e.getKey -> e.getValue.asDouble)
      out.result()
    }
  }
}
