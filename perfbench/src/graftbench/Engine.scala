package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.GraftConfig
import graft.sources.TrafficSource
import graft.streaming.TrafficJobs

/** One pipeline run: its wall time, the progress of every micro-batch, the
  * per-message latencies as (ms, messages) pairs, and what the keyed upsert
  * sink holds at the end (window end in epoch seconds -> last estimate).
  */
final case class Run(seconds: Double, progress: Seq[StreamingQueryProgress],
    latencies: Seq[(Double, Long)], sink: Map[Long, Long], error: Option[String]) {
  def inputRows: Long = progress.map(_.numInputRows).sum
  def dataBatches: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
}

/** The program under test, driven only through its public calls:
  * `TrafficSource.parse`, `TrafficJobs.tumbleDgim`/`hopDgim` and the
  * `GraftConfig` session setters.
  */
object Engine {

  val WindowSec = 60L
  val SlideSec = 10L

  /** A local session configured the way the program's own mains document
    * it: one shuffle partition per core, splittable writes, adaptive
    * partitioning of cached plans. Scratch space stays under `tmp`.
    */
  def session(cores: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftConfig.useSplittableWrites(spark)
    GraftConfig.useAdaptiveCachedPlanPartitioning(spark)
    spark
  }

  /** Job 1 of the reference: 60 s tumbling windows, DGIM estimate. */
  def tumble(parsed: DataFrame): DataFrame = TrafficJobs.tumbleDgim(parsed)

  /** Job 2 of the reference: 60 s windows hopping by 10 s, DGIM estimate. */
  def hop(parsed: DataFrame): DataFrame = TrafficJobs.hopDgim(parsed)

  /** The exact-count twin of a job: the same windows and watermark, a
    * plain count of 1-bits in place of the DGIM aggregate.
    */
  def exactCount(hopping: Boolean)(parsed: DataFrame): DataFrame = {
    val w = if (hopping) window(col("event_ts"), "60 seconds", "10 seconds")
      else window(col("event_ts"), "60 seconds")
    parsed.withWatermark("event_ts", "2 minutes")
      .groupBy(w)
      .agg(count(when(trim(col("value")) === "1", 1)).as("count_estimate"))
      .select(col("window.end").as("window_end"), col("count_estimate"))
  }

  /** Write `msgs` as a backlog of `batches` micro-batches of `partitions`
    * text files of JSON lines each, like a topic with one partition per
    * core: batch `b` holds the `b`-th slice of the messages in creation
    * order, split into contiguous runs, one per file.
    */
  def writeBacklog(msgs: Traffic, dir: String, batches: Int, partitions: Int): Unit = {
    new File(dir).mkdirs()
    val files = batches * partitions
    (0 until files).foreach { f =>
      val lo = (msgs.size.toLong * f / files).toInt
      val hi = (msgs.size.toLong * (f + 1) / files).toInt
      val sb = new java.lang.StringBuilder((hi - lo) * 64)
      var i = lo
      while (i < hi) { sb.append(msgs.json(i)).append('\n'); i += 1 }
      val tmp = new File(dir, f".part-$f%05d.tmp")
      Files.write(tmp.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
      // distinct, increasing mtimes: the file source takes oldest first
      tmp.setLastModified(1000000000000L + f * 1000L)
      tmp.renameTo(new File(dir, f"part-$f%05d.json"))
    }
  }

  private def backlogStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", spark.sparkContext.defaultParallelism.toString)
      .text(dir)
      .select(col("value").as("raw"))

  /** Keyed upsert sink: each micro-batch's updated windows overwrite the
    * previous estimate for their window end, the reference's upsert-Kafka
    * semantics without a broker.
    */
  private def upsert(df: DataFrame, sink: ConcurrentHashMap[Long, Long],
      checkpoint: String, trigger: Trigger): StreamingQuery =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.select(col("window_end").cast("long"), col("count_estimate"))
          .collect().foreach(r => sink.put(r.getLong(0), r.getLong(1)))
        ()
      }
      .start()

  /** Commit time of a micro-batch, epoch ms: its start plus its duration. */
  def commitMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L).doubleValue

  /** Closed-loop drain of a file backlog through `job` into the upsert sink
    * (or, with `job` = None, through the decode alone into a noop sink).
    * Every message is due when the drain starts; its latency runs to the
    * commit of the batch that carried it.
    */
  def drain(spark: SparkSession, backlog: String, checkpoint: String,
      job: Option[DataFrame => DataFrame]): Run = {
    val sink = new ConcurrentHashMap[Long, Long]()
    val parsed = TrafficSource.parse(backlogStream(spark, backlog))
    val dueMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val q = job match {
      case Some(j) => upsert(j(parsed), sink, checkpoint, Trigger.AvailableNow())
      case None =>
        parsed.writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow()).start()
    }
    val error = try { q.awaitTermination(); None } catch {
      case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    deleteRecursively(new File(checkpoint))
    val lat = progress.filter(_.numInputRows > 0)
      .map(p => (commitMs(p) - dueMs, p.numInputRows))
    Run(seconds, progress, lat, sink.asScala.toMap, error)
  }

  /** Open-loop run: `msgs` are fed on a wall-clock schedule at their rate,
    * in chunks of `chunkMs`, into a memory stream read by `job`; the
    * schedule never waits for the engine. The trigger starts each batch as
    * soon as the previous one ends. Each message is due at its place in
    * the schedule; its latency runs to the commit of the batch whose
    * offsets carried its chunk; latencies come in message order. Returns
    * the run and the generator's lateness per chunk in ms.
    */
  def live(spark: SparkSession, msgs: Traffic, checkpoint: String,
      chunkMs: Int, job: DataFrame => DataFrame): (Run, Array[Double]) = {
    // one input partition per core, rows dealt round-robin: each partition
    // keeps creation order (without it every chunk becomes its own task)
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    val stream = MemoryStream[String](spark.sparkContext.defaultParallelism)
    val sink = new ConcurrentHashMap[Long, Long]()
    val q = upsert(job(TrafficSource.parse(stream.toDF().select(col("value").as("raw")))),
      sink, checkpoint, Trigger.ProcessingTime(0L))
    val perChunk = math.max(1, msgs.ratePerSec * chunkMs / 1000)
    val chunks = (msgs.size + perChunk - 1) / perChunk
    val offset = new Array[Long](chunks)
    val late = new Array[Double](chunks)
    val stepMs = 1000.0 / msgs.ratePerSec
    val startNs = System.nanoTime() + 50000000L
    val startWallMs = System.currentTimeMillis() + 50.0
    var k = 0
    while (k < chunks && q.isActive) {
      val lo = k * perChunk
      val hi = math.min(msgs.size, lo + perChunk)
      // a chunk is sent when its last message is due
      val dueNs = startNs + (hi * stepMs * 1e6).toLong
      var wait = dueNs - System.nanoTime()
      while (wait > 0) {
        java.util.concurrent.locks.LockSupport.parkNanos(wait)
        wait = dueNs - System.nanoTime()
      }
      late(k) = (System.nanoTime() - dueNs) / 1e6
      offset(k) = stream.addData(msgs.json.slice(lo, hi).toSeq).json.toLong
      k += 1
    }
    val error = try { q.processAllAvailable(); None } catch {
      case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    q.stop()
    val seconds = (System.nanoTime() - startNs) / 1e9
    val progress = q.recentProgress.toSeq
    deleteRecursively(new File(checkpoint))
    // batch -> the chunks in its offset range (start, end]; latency by message
    val latency = Array.fill(math.min(msgs.size, k * perChunk))(Double.NaN)
    progress.filter(_.numInputRows > 0).foreach { p =>
      val src = p.sources.head
      val lo = Option(src.startOffset).map(_.trim.toLong).getOrElse(-1L)
      val hi = src.endOffset.trim.toLong
      val commit = commitMs(p)
      (0 until k).filter(c => offset(c) > lo && offset(c) <= hi).foreach { c =>
        (c * perChunk until math.min(msgs.size, (c + 1) * perChunk)).foreach { i =>
          latency(i) = commit - (startWallMs + (i + 1) * stepMs)
        }
      }
    }
    val lat = latency.toSeq.filterNot(_.isNaN).map(l => (l, 1L))
    (Run(seconds, progress, lat, sink.asScala.toMap, error), late.take(k))
  }

  def deleteRecursively(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }
}
