package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.sources.TrafficSource

/** One benchmark run of one workload in a fresh JVM. Writes a JSON record
  * (metrics, correctness counts, spans when traced) to `--record`.
  *
  * Usage: `graftbench.Main --workload traffic_replay|traffic_live --seed N
  *   --seconds S --trace 0|1 --cores C --tmp DIR --record FILE`
  */
object Main {

  /** Workload parameters. The replay backlog is 10 batches of 120,000
    * messages: large enough to spread each batch's fixed cost over many
    * messages, small enough that one drain of each job fits a run. Its
    * event time runs at 1,000 msg/s, so it spans about 20 tumbling windows.
    */
  val ReplayMessages = 1200000
  val ReplayRate = 1000
  val ReplayBatches = 10
  /** 40x the reference producer's 50 msg/s. */
  val LiveRate = 2000
  val LiveChunkMs = 10
  /** Messages due in the first seconds of a live run are left out of its
    * latency figures: a new query's first batches pay one-off planning
    * that a long-running stream does not.
    */
  val LiveRampSeconds = 2
  /** Batches of the traced run's legs, each of the replay's batch size. */
  val LegBatches = 2
  val SetupRepeats = 3
  val WarmMessages = 40000
  val LiveWarmSeconds = 1

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, tmp: String, record: String)

  def parseArgs(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, need("tmp"), need("record"))
  }

  /** Metrics by name: (value, unit). */
  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
  }

  /** Correctness counts: every window checked and every micro-batch run is
    * one attempt; a window missing, extra or outside the DGIM bound, a
    * failed batch, or a wrong rejected count is one failure.
    */
  final class Checks {
    var attempted = 0L
    var failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]

    def fail(note: String): Unit = { failed += 1; if (notes.size < 50) notes += note }

    /** Window estimates against the exact counts over the same messages,
      * with StreamingSpec's bound |est - exact| <= exact/2 + 1.
      */
    def windows(label: String, run: Run, exact: Map[Long, Long]): Unit = {
      val keys = exact.keySet ++ run.sink.keySet
      attempted += keys.size
      keys.foreach { k =>
        (run.sink.get(k), exact.get(k)) match {
          case (Some(est), Some(x)) =>
            if (math.abs(est - x) > x / 2 + 1) fail(s"$label window $k: est $est exact $x")
          case (None, _) => fail(s"$label window $k missing")
          case (_, None) => fail(s"$label window $k extra")
        }
      }
    }

    def batches(label: String, run: Run, expectedRows: Long): Unit = {
      attempted += math.max(1, run.progress.size)
      run.error.foreach(e => fail(s"$label failed: $e"))
      if (run.inputRows != expectedRows)
        fail(s"$label consumed ${run.inputRows} of $expectedRows messages")
    }
  }

  final class Setup(val spark: SparkSession, val msgs: Traffic, val backlog: String,
      val sessionS: Double, val stagingS: Double, val warmS: Double) {
    def totalS: Double = sessionS + stagingS + warmS
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    require(Set("traffic_replay", "traffic_live")(o.workload), s"unknown workload ${o.workload}")
    val replay = o.workload == "traffic_replay"
    val tracer = new Tracer(o.trace)
    val metrics = new Metrics
    val checks = new Checks
    var dirs = 0
    def freshDir(name: String): String = { dirs += 1; s"${o.tmp}/$name-$dirs" }

    // --- set-up, repeated; the last session is kept -------------------------
    val warmMsgs = Traffic.generate(o.seed ^ 0x5eed, WarmMessages, LiveRate)
    var spark: SparkSession = null
    var previousBacklog = Option.empty[String]
    val setups = (1 to SetupRepeats).map { _ =>
      tracer.span("setup") {
        if (spark != null) spark.stop()
        previousBacklog.foreach(d => Engine.deleteRecursively(new File(d)))
        val t0 = System.nanoTime()
        spark = tracer.span("setup.session")(Engine.session(o.cores, o.tmp))
        val t1 = System.nanoTime()
        val (msgs, backlog) = tracer.span("setup.staging") {
          if (replay) {
            val m = Traffic.generate(o.seed, ReplayMessages, ReplayRate)
            val dir = freshDir("backlog")
            Engine.writeBacklog(m, dir, ReplayBatches, o.cores)
            previousBacklog = Some(dir)
            (m, dir)
          } else (Traffic.generate(o.seed, LiveRate * o.seconds, LiveRate), "")
        }
        val t2 = System.nanoTime()
        tracer.span("setup.warm")(warm(spark, replay, warmMsgs, freshDir _))
        val t3 = System.nanoTime()
        new Setup(spark, msgs, backlog, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
    }
    val s = setups.last
    metrics("setup_s", "s") = Stats.median(setups.map(_.totalS))

    // --- the measured phase, with tracing off -------------------------------
    // a traced run measures twice, untraced then traced, each for half the time
    val phaseSeconds = if (o.trace) o.seconds / 2 else o.seconds
    val wasTracing = tracer.enabled
    tracer.enabled = false
    val gc0 = Stats.gcMs()
    val plain = measure(s, phaseSeconds, replay, freshDir _, tracer)
    val plainGc = Stats.gcMs() - gc0
    tracer.enabled = wasTracing
    plain.runs.foreach { case (label, run, exact) =>
      checks.batches(label, run, plain.messages)
      checks.windows(label, run, exact)
    }
    val rejected = checkRejected(s, checks)
    val e2e = Seq("msgs_per_s" -> "1/s", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms")
    var operators = Map.empty[String, Any]
    if (!o.trace) {
      e2e.foreach { case (k, u) => metrics(k, u) = plain.e2e(k) }
    } else {
      // --- the same phase traced, then the per-layer legs ------------------
      val listener = new ProgressSpans(tracer)
      s.spark.streams.addListener(listener)
      val gc1 = Stats.gcMs()
      val traced = tracer.span("measure")(measure(s, phaseSeconds, replay, freshDir _, tracer))
      val tracedGc = Stats.gcMs() - gc1
      s.spark.streams.removeListener(listener)
      traced.runs.foreach { case (label, run, exact) =>
        checks.batches(label, run, traced.messages)
        checks.windows(label, run, exact)
      }
      e2e.foreach { case (k, u) =>
        metrics(s"overhead.$k", u) = traced.e2e(k) - plain.e2e(k)
      }
      metrics("sources.rejected_msgs", "count") = rejected.toDouble
      operators = layers(s, o, traced, tracer, metrics, checks, freshDir _)
      metrics("setup.session_s", "s") = Stats.median(setups.map(_.sessionS))
      metrics("setup.staging_s", "s") = Stats.median(setups.map(_.stagingS))
      metrics("setup.warm_s", "s") = Stats.median(setups.map(_.warmS))
      metrics("streaming.gc_ms", "ms") = tracedGc.toDouble
      metrics("overhead.gc_ms", "ms") = (tracedGc - plainGc).toDouble
    }
    spark = SparkSession.getActiveSession.orNull
    if (spark != null) spark.stop()

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> (if (o.trace) 1 else 0), "cores" -> o.cores,
      "correct" -> (checks.failed == 0), "attempted" -> checks.attempted,
      "failed" -> checks.failed, "failures" -> checks.notes,
      "metrics" -> metrics.values.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> plain.detail)
    if (o.trace) {
      record ++= operators
      record("spans") = tracer.spans
    }
    Files.write(new File(o.record).toPath, Json(record).getBytes(StandardCharsets.UTF_8))
  }

  /** Run every layer of the workload's own pipeline once on small inputs,
    * so that code generation, the state store and the source are warm.
    */
  def warm(spark: SparkSession, replay: Boolean, msgs: Traffic,
      freshDir: String => String): Unit =
    if (replay) {
      val dir = freshDir("warm")
      Engine.writeBacklog(msgs, dir, 2, spark.sparkContext.defaultParallelism)
      Engine.drain(spark, dir, freshDir("ckpt"), Some(Engine.tumble))
      Engine.drain(spark, dir, freshDir("ckpt"), Some(Engine.hop))
    } else {
      Engine.live(spark, msgs.take(LiveRate * LiveWarmSeconds), freshDir("ckpt"), LiveChunkMs,
        Engine.hop)
    }

  /** A measured phase: each pipeline run with its label and the exact
    * windows it must produce, over `messages` messages per run.
    */
  final case class Phase(runs: Seq[(String, Run, Map[Long, Long])], messages: Int,
      e2e: Map[String, Double], late: Array[Double], detail: Map[String, Any])

  /** The measured phase: for `traffic_replay`, drains of Job 1 then Job 2
    * over the backlog for about `seconds` (at least one each), throughput
    * being all messages drained over all drain time; for `traffic_live`,
    * one open-loop run of `seconds` at the live rate through Job 2.
    */
  def measure(s: Setup, seconds: Int, replay: Boolean, freshDir: String => String,
      tracer: Tracer): Phase = {
    if (replay) {
      val tumbleExact = s.msgs.exactWindows(Engine.WindowSec, Engine.WindowSec)
      val hopExact = s.msgs.exactWindows(Engine.WindowSec, Engine.SlideSec)
      val runs = mutable.ArrayBuffer.empty[(String, Run, Map[Long, Long])]
      // cycles of both jobs while the next one, judged by the last, still
      // fits in `seconds`; always at least one
      val t0 = System.nanoTime()
      var last = 0L
      while (runs.isEmpty || System.nanoTime() - t0 + last <= seconds * 1000000000L) {
        val c0 = System.nanoTime()
        val t = tracer.span("drain.tumble")(
          Engine.drain(s.spark, s.backlog, freshDir("ckpt"), Some(Engine.tumble)))
        val h = tracer.span("drain.hop")(
          Engine.drain(s.spark, s.backlog, freshDir("ckpt"), Some(Engine.hop)))
        runs += (("tumble", t, tumbleExact)) += (("hop", h, hopExact))
        last = System.nanoTime() - c0
      }
      val lat = runs.flatMap(_._2.latencies).toSeq
      Phase(runs.toSeq, s.msgs.size, Map(
        "msgs_per_s" -> runs.size * s.msgs.size / runs.map(_._2.seconds).sum,
        "latency_p50_ms" -> Stats.weightedQuantile(lat, 0.5),
        "latency_p90_ms" -> Stats.weightedQuantile(lat, 0.9)),
        Array.empty,
        Map("cycles" -> runs.size / 2,
          "tumble_s" -> runs.filter(_._1 == "tumble").map(_._2.seconds),
          "hop_s" -> runs.filter(_._1 == "hop").map(_._2.seconds)))
    } else {
      val msgs = s.msgs.take(LiveRate * seconds)
      val (run, late) = tracer.span("live.hop")(
        Engine.live(s.spark, msgs, freshDir("ckpt"), LiveChunkMs, Engine.hop))
      val batches = run.dataBatches.size
      val steady = run.latencies.drop(LiveRate * LiveRampSeconds)
      val exact = msgs.exactWindows(Engine.WindowSec, Engine.SlideSec)
      Phase(Seq(("live", run, exact)), msgs.size, Map(
        "msgs_per_s" -> run.inputRows / run.seconds,
        "latency_p50_ms" -> Stats.weightedQuantile(steady, 0.5),
        "latency_p90_ms" -> Stats.weightedQuantile(steady, 0.9)),
        late,
        Map("batches" -> batches, "run_s" -> run.seconds,
          "latency_samples" -> run.latencies.size))
    }
  }

  /** Messages the decode rejects must be exactly the malformed ones. A
    * batch decode of the backlog files when there are any, else of the
    * messages themselves.
    */
  def checkRejected(s: Setup, checks: Checks): Long = {
    import s.spark.implicits._
    val raw =
      if (s.backlog.nonEmpty) s.spark.read.text(s.backlog).select(col("value").as("raw"))
      else s.msgs.json.toSeq.toDF("raw")
    val rejected = s.msgs.size - TrafficSource.parse(raw).count()
    checks.attempted += 1
    if (rejected != s.msgs.malformed)
      checks.fail(s"rejected $rejected messages, generated ${s.msgs.malformed} malformed")
    rejected
  }

  /** Per-layer metrics of the traced run. The legs drain (the start of)
    * the workload's own messages as a file backlog: decode only, the
    * exact-count twin of each job, then each job; the differences split a
    * drain between decode, windowing and the DGIM aggregate.
    */
  def layers(s: Setup, o: Opts, traced: Phase, tracer: Tracer, metrics: Metrics,
      checks: Checks, freshDir: String => String): Map[String, Any] = {
    val data = traced.runs.flatMap(_._2.dataBatches)
    def p50(f: StreamingQueryProgress => Double): Double =
      if (data.isEmpty) 0.0 else Stats.median(data.map(f))
    def dur(k: String)(p: StreamingQueryProgress): Double =
      p.durationMs.getOrDefault(k, 0L).doubleValue
    def stateCommit(p: StreamingQueryProgress): Double =
      p.stateOperators.map(_.commitTimeMs.toDouble).sum
    metrics("batch.ms_p50", "ms") = p50(dur("triggerExecution"))
    metrics("batch.planning_ms_p50", "ms") = p50(dur("queryPlanning"))
    metrics("batch.addbatch_ms_p50", "ms") = p50(dur("addBatch"))
    metrics("batch.walcommit_ms_p50", "ms") = p50(dur("walCommit"))
    metrics("batch.commitoffsets_ms_p50", "ms") = p50(dur("commitOffsets"))
    metrics("batch.state_commit_ms_p50", "ms") = p50(stateCommit)
    metrics("streaming.batches", "count") =
      Stats.median(traced.runs.map(_._2.dataBatches.size.toDouble))
    metrics("streaming.state_rows", "count") =
      (0L +: data.flatMap(_.stateOperators.map(_.numRowsTotal))).max.toDouble
    metrics("streaming.state_bytes", "bytes") =
      (0L +: data.flatMap(_.stateOperators.map(_.memoryUsedBytes))).max.toDouble
    metrics("streaming.state_commit_ms", "ms") =
      Stats.median(traced.runs.map(_._2.dataBatches.map(stateCommit).sum))
    metrics("gen.late_ms_p99", "ms") =
      if (traced.late.isEmpty) 0.0 else Stats.quantile(traced.late.toSeq, 0.99)

    // legs: closed-loop drains of the workload's messages as a backlog, at
    // most LegBatches of the replay's batch size
    val legMsgs = s.msgs.take(math.min(s.msgs.size, LegBatches * ReplayMessages / ReplayBatches))
    val n = legMsgs.size.toDouble
    val backlog = freshDir("legs")
    Engine.writeBacklog(legMsgs, backlog, LegBatches, o.cores)
    def leg(name: String, job: Option[DataFrame => DataFrame]) = {
      val r = tracer.span(s"leg.$name")(Engine.drain(s.spark, backlog, freshDir("ckpt"), job))
      checks.batches(name, r, legMsgs.size)
      r
    }
    val tumbleExact = legMsgs.exactWindows(Engine.WindowSec, Engine.WindowSec)
    val hopExact = legMsgs.exactWindows(Engine.WindowSec, Engine.SlideSec)
    val parse = leg("parse", None)
    val exactT = leg("exact_tumble", Some(Engine.exactCount(hopping = false)))
    val exactH = leg("exact_hop", Some(Engine.exactCount(hopping = true)))
    val tumble = leg("tumble", Some(Engine.tumble))
    val hop = leg("hop", Some(Engine.hop))
    checks.windows("exact_tumble", exactT, tumbleExact)
    checks.windows("exact_hop", exactH, hopExact)
    checks.windows("tumble", tumble, tumbleExact)
    checks.windows("hop", hop, hopExact)
    val exactS = exactT.seconds + exactH.seconds
    metrics("sources.parse_s", "s") = parse.seconds
    metrics("streaming.window_s", "s") = exactS - 2 * parse.seconds
    metrics("streaming.dgim_s", "s") = tumble.seconds + hop.seconds - exactS
    metrics("streaming.tumble_msgs_per_s", "1/s") = n / tumble.seconds
    metrics("streaming.hop_msgs_per_s", "1/s") = n / hop.seconds

    tracer.span("dgim") {
      val stream = DgimMicro.bits(o.seed, 500000, 500)
      metrics("dgim.added_ns_per_bit", "ns") = DgimMicro.addedNsPerBit(stream)
      metrics("dgim.builder_ns_per_bit", "ns") = DgimMicro.builderNsPerBit(stream)
      metrics("dgim.merge_us", "us") = DgimMicro.mergeUs(o.seed, 50, 20000)
    }

    // the operator-suite leg over a seeded events table
    val sf = freshDir("sf")
    new File(sf).mkdirs()
    Operators.writeEvents(s.spark, o.seed, Operators.Events, sf)
    val gcOps = Stats.gcMs()
    val rows = Operators.run(s.spark, sf, tracer)
    metrics("operators.gc_ms", "ms") = (Stats.gcMs() - gcOps).toDouble
    Operators.Modules.foreach { m =>
      metrics(s"operators.rows.${m}_s", "s") = rows.filter(_.module == m).map(_.seconds).sum
    }
    val (streamRows, batchRows) = rows.partition(_.streaming)
    metrics("operators.batch_rows_s", "s") = batchRows.map(_.seconds).sum
    metrics("operators.stream_rows_s", "s") = streamRows.map(_.seconds).sum
    def streamSum(k: String) = streamRows.map(_.durations.getOrElse(k, 0.0)).sum / 1000
    metrics("operators.stream.planning_s", "s") = streamSum("queryPlanning")
    metrics("operators.stream.addbatch_s", "s") = streamSum("addBatch")
    metrics("operators.stream.walcommit_s", "s") = streamSum("walCommit")
    metrics("operators.stream.commit_s", "s") = streamSum("commitOffsets")
    metrics("operators.stream.harness_s", "s") =
      streamRows.map(_.seconds).sum - streamSum("triggerExecution")

    // the single-threaded baseline: Job 1 on a one-core session, over the
    // legs' first batch
    s.spark.stop()
    val first = legMsgs.take(legMsgs.size / LegBatches)
    val oneDir = freshDir("legs1")
    Engine.writeBacklog(first, oneDir, 1, 1)
    val one = tracer.span("leg.tumble_1core") {
      val s1 = Engine.session(1, o.tmp)
      try Engine.drain(s1, oneDir, freshDir("ckpt"), Some(Engine.tumble))
      finally s1.stop()
    }
    checks.batches("tumble_1core", one, first.size)
    checks.windows("tumble_1core", one, first.exactWindows(Engine.WindowSec, Engine.WindowSec))
    metrics("streaming.tumble_msgs_per_s_1core", "1/s") = first.size / one.seconds

    // for the DuckDB check that run.py makes once the JVM has ended
    Map("operator_dir" -> sf, "operator_rows" -> rows.map { r =>
      Map("name" -> r.name, "module" -> r.module, "seconds" -> r.seconds, "count" -> r.count,
        "oracle_sql" -> graft.SparkEntry.oracleSql.get(r.name), "error" -> r.error)
    })
  }

  /** Records each micro-batch's progress report as a span with its
    * duration split, under whichever span is open when it arrives.
    */
  final class ProgressSpans(tracer: Tracer) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durations = mutable.LinkedHashMap.empty[String, Any]
      p.durationMs.forEach((k, v) => durations(k) = v.longValue)
      tracer.record("batch", p.durationMs.getOrDefault("triggerExecution", 0L).doubleValue,
        Map("batch_id" -> p.batchId, "rows" -> p.numInputRows, "durations" -> durations,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum))
    }
  }
}
