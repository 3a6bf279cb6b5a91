package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Dgim
import graft.operators.DgimQueries

/** Validates the custom DgimWindowAggExec physical operator end-to-end:
  * its output must equal the reference semantics computed independently
  * (collect → group per window → sort → Dgim.estimateSorted), and the
  * planned physical tree must contain the operator above a planner-inserted
  * Exchange + Sort. Also pins the native DgimEstimate aggregate to the
  * typed reference aggregator, estimate for estimate.
  */
class DgimPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The one DGIM window exec in `df`'s plan, and the plan's text. */
  private def windowExec(df: org.apache.spark.sql.DataFrame) = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val execs = plan.collect { case e: graft.plans.DgimWindowAggExec => e }
    assert(execs.length === 1, plan)
    (execs.head, plan.toString)
  }

  test("physical plan is DgimWindowAgg over planner-inserted Exchange + Sort") {
    val (exec, plan) = windowExec(DgimQueries.dgimTumble(spark, sf))
    assert(exec.bits === 1)
    assert(plan.contains("Exchange"))
    assert(plan.contains("Sort"))
  }

  test("sum form plans the same DgimWindowAgg exec at 17 bits over Exchange + Sort") {
    val (exec, plan) = windowExec(DgimQueries.dgimSumTumble(spark, sf))
    assert(exec.bits === Dgim.SumBits)
    assert(plan.contains("Exchange"))
    assert(plan.contains("Sort"))
  }

  test("sum exec output equals an independent 17-instance sort-then-fold reference") {
    import spark.implicits._
    val got = DgimQueries.dgimSumTumble(spark, sf)
      .select($"window_start".cast("long"), $"sum_estimate", $"exact_cents")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val rows = graft.sources.Tables.events(spark, sf)
      .filter($"event_type" === "click" && $"ts".isNotNull)
      .select($"ts".cast("long"),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.round($"value" * 100).cast("long"),
          org.apache.spark.sql.functions.lit(0L)).as("cents"))
      .as[(Long, Long)].collect()
    val expected = rows.groupBy(_._1 / 3600 * 3600).map { case (ws, grp) =>
      val sorted = grp.sortBy(_._1)
      val exact = grp.map(_._2).sum
      val builders = Array.fill(17)(new Dgim.Builder(3600L))
      var latest = 0L
      sorted.foreach { case (ts, cents) =>
        if (cents > 0L) {
          val v = math.min(cents, (1L << 17) - 1)
          latest = math.max(latest, ts)
          (0 until 17).foreach { j =>
            if (((v >> j) & 1L) == 1L) builders(j).add(ts)
          }
        }
      }
      val est = (0 until 17).map(j =>
        (1L << j) * builders(j).state.estimateAt(latest, roundUp = true)).sum
      ws -> (est, exact)
    }
    assert(got === expected)
  }

  test("custom exec output equals independent sort-then-fold reference (tumble + hop)") {
    import spark.implicits._
    for (q <- Seq(DgimQueries.dgimTumble _, DgimQueries.dgimSlide _)) {
      val got = q(spark, sf)
        .select($"window_start".cast("long"), $"window_end".cast("long"),
          $"count_estimate", $"exact_count")
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .toMap

      // independent reference: same window assignment done by hand
      val clicks = graft.sources.Tables.events(spark, sf)
        .filter($"event_type" === "click")
        .select($"ts".cast("long")).as[Long].collect()
      val isSlide = got.keys.exists { case (ws, we) => we - ws != 0 } &&
        got.size > clicks.map(_ / 3600 * 3600).distinct.length
      val expected = clicks
        .flatMap { ts =>
          if (isSlide) (0 until 4).map(i => (ts / 900 * 900 - i * 900L, ts))
          else Seq((ts / 3600 * 3600, ts))
        }
        .groupBy(_._1)
        .map { case (ws, rows) =>
          val sorted = rows.map(_._2).sorted
          val we = if (isSlide) ws + 3600 else ws + 3600
          ((ws, we), (Dgim.estimateSorted(sorted, 3600L), sorted.length.toLong))
        }
      assert(got === expected)
    }
  }

  test("SQL-surface dgim_estimate agrees with the custom operator per window") {
    import spark.implicits._
    def byWindow(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.select($"window_start".cast("long"), $"count_estimate", $"exact_count")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaExec = byWindow(DgimQueries.dgimTumble(spark, sf))
    val viaSql = byWindow(DgimQueries.sqlDgimTumble(spark, sf))
    assert(viaSql.keySet === viaExec.keySet, "window sets differ")
    viaExec.foreach { case (ws, (estExec, exact)) =>
      val (estSql, exactSql) = viaSql(ws)
      // exact counts are deterministic on both strategies
      assert(exactSql === exact, s"exact count differs in window $ws")
      // estimates come from different (both canonical) merge orders, so
      // the contract is the published DGIM bound, not equality: the only
      // uncertainty is half the oldest bucket, ≤ 50% of the true count
      for (est <- Seq(estExec, estSql))
        assert(math.abs(est - exact) <= math.max(1L, exact / 2),
          s"window $ws: estimate $est vs exact $exact breaks the DGIM bound")
    }
  }

  test("exec enforces its non-null child contract instead of silently reading 0") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a null ts slipped past the query-level guard must FAIL the task,
    // not land the row in the 1970 epoch window
    val child = Seq((3600L, 7200L, Some(3700L)), (3600L, 7200L, None))
      .toDF("ws", "we", "ts_sec")
      .select($"ws", $"we", $"ts_sec".cast("long").as("ts_sec"), lit(1L).as("amount"))
    graft.plans.DgimStrategy.ensureRegistered(spark)
    val df = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
      graft.plans.DgimWindowAggPlan(3600L, 1,
        org.apache.spark.sql.graft.ColumnBridge.logicalPlan(child)))
    val e = intercept[Exception] { df.collect() }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("emitted a null column")), s"got: ${chain(e).take(3)}")
  }

  test("operator streams groups (no OOM-prone per-group materialization): many tiny groups") {
    import spark.implicits._
    // sanity: outputs one row per distinct window even when #groups >> partitions
    val n = DgimQueries.dgimSlide(spark, sf).count()
    val distinctWindows = DgimQueries.dgimSlide(spark, sf)
      .select("window_start", "window_end").distinct().count()
    assert(n === distinctWindows)
  }

  test("SQL-registered dgim_sum_estimate works from SQL text within the bound") {
    graft.GraftFunctions.register(spark)
    graft.sources.Tables.events(spark, sf).createOrReplaceTempView("events_sum_sql")
    val rows = spark.sql("""
      SELECT window.start AS ws,
             dgim_sum_estimate(cents, ts_sec) AS est,
             SUM(cents) AS exact
      FROM (SELECT ts, CAST(round(value * 100) AS BIGINT) AS cents,
                   unix_timestamp(ts) AS ts_sec
            FROM events_sum_sql
            WHERE event_type = 'click' AND ts IS NOT NULL)
      GROUP BY window(ts, '1 hour')""").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Long]("est")
      val exact = r.getAs[Long]("exact")
      assert(math.abs(est - exact) <= exact / 2 + 17,
        s"window ${r.get(0)}: est=$est exact=$exact")
    }
  }

  test("q_dgim_sum: every window's sum estimate within the §5 bound of its exact twin") {
    for (df <- Seq(DgimQueries.dgimSumTumble(spark, sf),
        DgimQueries.dgimSumSlide(spark, sf))) {
      val rows = df.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val est = r.getAs[Long]("sum_estimate")
        val exact = r.getAs[Long]("exact_cents")
        // per-bit DGIM 50% bound weighted by 2^j -> 50% of the sum, plus
        // <= 1 round-up slack per bit instance (17 bits)
        assert(math.abs(est - exact) <= exact / 2 + 17,
          s"window ${r.get(0)}: est=$est exact=$exact")
      }
    }
  }

  test("native DgimEstimate equals the typed reference aggregator per window " +
      "(count, floor, sum) at 1, 3 and 8 partitions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.DgimEstimate
    val isOne = udf((v: String) => Dgim.isOneBit(v))
    val vocab = Array("1", "1", "1", "0", " 1", "+01", "x", "", null)
    val base = 1704067200L
    var roundingDiffers = false
    for (seed <- Seq(3L, 11L)) {
      val rnd = new scala.util.Random(seed)
      // 14 h of events in 10-minute windows -> 84 groups; amounts cover
      // zero, negatives, nulls and values past the 17-bit cap
      val rows = (0 until 6000).map { _ =>
        val amount: Option[Long] = rnd.nextInt(20) match {
          case 0 => None
          case 1 => Some(-rnd.nextLong(100L))
          case 2 => Some((1L << 17) + rnd.nextLong(1L << 20))
          case _ => Some(rnd.nextLong(5000L))
        }
        (vocab(rnd.nextInt(vocab.length)), amount, base + rnd.nextLong(14 * 3600L))
      }.sortBy(_._3)
      val events = rows.toDF("value", "amount", "ts_sec")
        .withColumn("ts", timestamp_seconds($"ts_sec"))
      for (partitions <- Seq(1, 3, 8); w <- Seq(60L, 600L)) {
        def ref(roundUp: Boolean, bits: Int, amount: org.apache.spark.sql.Column) =
          udaf(new DgimSumAggregator(w, bits, roundUp)).apply(amount, $"ts_sec")
        val bit = when(isOne($"value"), 1L).otherwise(0L)
        val got = events.repartition(partitions)
          .groupBy(window($"ts", "10 minutes"))
          .agg(
            ref(roundUp = true, 1, bit).as("ref_count"),
            DgimEstimate($"value", $"ts_sec", w).as("count"),
            ref(roundUp = false, 1, bit).as("ref_floor"),
            DgimEstimate($"value", $"ts_sec", w, roundUp = false).as("floor"),
            ref(roundUp = true, Dgim.SumBits, $"amount").as("ref_sum"),
            DgimEstimate($"amount", $"ts_sec", w).as("sum"))
          .collect()
        assert(got.length === 84)
        for (r <- got; f <- Seq("count", "floor", "sum"))
          assert(r.getAs[Long](f) === r.getAs[Long]("ref_" + f),
            s"$f differs in ${r.get(0)} (seed $seed, $partitions partitions, W=$w)")
        assert(got.exists(_.getAs[Long]("sum") > 0L))
        roundingDiffers ||= got.exists(r => r.getAs[Long]("count") != r.getAs[Long]("floor"))
      }
    }
    assert(roundingDiffers, "no window separates the round-up and floor estimates")
  }
}
