package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions registers the native expressions for pure-SQL use;
  * this spec builds a session through the extension point and exercises
  * `float_dot` from SQL, plus the approx_percentile sketch bound that
  * backs q_quantile's 100 TB path.
  */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("float_dot is callable from SQL via SparkSessionExtensions") {
    val r = spark.sql(
      """SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                 array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d
        |""".stripMargin).collect()
    assert(r(0).getDouble(0) === 11.0)
  }

  test("float_dot SQL form works against real embeddings") {
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb")
    val rows = spark.sql(
      """SELECT a.vec_id, b.vec_id, float_dot(a.embedding, b.embedding) AS d
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id LIMIT 100""".stripMargin)
      .collect()
    assert(rows.length === 100)
    assert(rows.forall(r => !r.isNullAt(2)))
  }

  test("float_dot rejects non-array-of-float arguments at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT float_dot(array(1.0), array(2.0))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<float>"))
  }

  private def dgimEstimateCases(s: SparkSession): Unit = {
    import s.implicits._
    // 1-bits at seconds 0..99 within one window -> estimate near 100
    (0L until 100L).map(t => ("1", t)).toDF("value", "ts_sec")
      .createOrReplaceTempView("traffic_bits")
    val est = s.sql(
      "SELECT dgim_estimate(value, ts_sec) AS e FROM traffic_bits").collect()(0).getLong(0)
    assert(est >= 50 && est <= 150, s"estimate $est out of DGIM bound for 100 ones")
    // lenient accumulate: junk values ignored
    val est2 = s.sql(
      """SELECT dgim_estimate(v, t) AS e FROM VALUES ('1', 10L), ('0', 11L),
        |  ('x', 12L), (NULL, 13L), ('1', 14L) AS t(v, t)""".stripMargin)
      .collect()(0).getLong(0)
    assert(est2 === 2L)
  }

  private def dgimFloorCases(s: SparkSession): Unit = {
    // two 1-bits -> buckets [(20,1),(10,1)]; oldest size 1 is the parity
    // where the two published semantics differ: ceil gives 2, floor 1
    for ((a, b) <- Seq(("10L", "20L"), ("10", "20"))) { // INT widens to BIGINT
      val sql = s"SELECT %s(v, t) AS e FROM VALUES ('1', $a), ('1', $b) AS x(v, t)"
      assert(s.sql(sql.format("dgim_estimate")).collect()(0).getLong(0) === 2L)
      assert(s.sql(sql.format("dgim_estimate_floor")).collect()(0).getLong(0) === 1L)
    }
  }

  test("dgim_estimate is callable from SQL (the reference's registered-aggregate surface)") {
    GraftFunctions.register(spark)
    dgimEstimateCases(spark)
  }

  test("dgim_estimate_floor exposes the PyFlink round-down semantics in SQL") {
    GraftFunctions.register(spark)
    dgimFloorCases(spark)
  }

  test("DGIM functions resolve to the native aggregate in an extensions-only session") {
    // fresh session state, no GraftFunctions.register: the names come
    // from the table GraftExtensions injects
    val s = spark.newSession()
    dgimEstimateCases(s)
    dgimFloorCases(s)
    val plan = s.sql("SELECT dgim_sum_estimate(4L, 1L)").queryExecution.analyzed
    assert(plan.expressions.exists(_.exists(_.isInstanceOf[graft.functions.DgimEstimate])), plan)
  }

  test("a null timestamp drops the row instead of adding a bit at epoch 0") {
    GraftFunctions.register(spark)
    // a 1-bit at epoch 0 would head the newest-first bucket list and
    // expire the real buckets on the next add. COALESCE(1) keeps the rows
    // in one partition, in order, as one partition of a stream arrives;
    // split across partitions, the canonical merge would sort it away
    val count = spark.sql("""SELECT dgim_estimate(v, t) FROM (SELECT /*+ COALESCE(1) */ *
      |  FROM VALUES ('1', 1700000000L), ('1', CAST(NULL AS BIGINT)), ('1', 1700000001L)
      |  AS x(v, t))""".stripMargin)
    assert(count.collect()(0).getLong(0) === 2L)
    val sum = spark.sql("""SELECT dgim_sum_estimate(a, t) FROM (SELECT /*+ COALESCE(1) */ *
      |  FROM VALUES (4L, 1700000000L), (4L, CAST(NULL AS BIGINT)), (4L, 1700000001L),
      |  (CAST(NULL AS BIGINT), 1700000002L) AS x(a, t))""".stripMargin)
    assert(sum.collect()(0).getLong(0) === 8L)
  }

  test("GraftExtensions satisfies the spark.sql.extensions deploy contract") {
    // the config-string path instantiates the class BY NAME with a no-arg
    // constructor and applies it as SparkSessionExtensions => Unit — the
    // exact reflective contract spark-submit --conf relies on
    val ext = Class.forName("graft.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    ext(new org.apache.spark.sql.SparkSessionExtensions) // must not throw
  }

  test("text primitives are callable from pure SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql("""
      SELECT graft_normalize('  Hello,  WORLD!! 42 ') AS norm,
             size(graft_shingles('one two three four')) AS n_sh,
             graft_simhash64(graft_shingle_hashes('one two three four')) AS sh,
             size(graft_minhash_sig(graft_shingle_hashes('one two three four'))) AS n_sig
    """).collect()(0)
    assert(r.getString(0) === "hello world 42")
    assert(r.getInt(1) === 2) // "one two three", "two three four"
    assert(r.getInt(3) === 128)
  }

  test("graft_normalize resolves to the NATIVE expression in an extensions-only session") {
    // fresh session state: no GraftFunctions.register UDF shadowing the
    // injected function — SQL must hit NormalizeText directly
    val s = spark.newSession()
    val r = s.sql("SELECT graft_normalize('  Hello,  WORLD!! 42 ') AS n").collect()(0)
    assert(r.getString(0) === "hello world 42")
    val plan = s.sql("SELECT graft_normalize('x')").queryExecution.analyzed.toString
    assert(plan.contains("graft_normalize"), plan)
    assert(!plan.toLowerCase.contains("udf"), s"expected native expression, got:\n$plan")
  }

  test("CollapseNormalize optimizer rule folds nested normalizes to one") {
    import graft.functions.NormalizeText
    val s = spark.newSession()
    val df = s.sql(
      "SELECT graft_normalize(graft_normalize(graft_normalize('  A  b!C '))) AS n")
    val normalizes = df.queryExecution.optimizedPlan
      .expressions.flatMap(_.collect { case n: NormalizeText => n })
    // constant-folding may evaluate the (collapsed) expression away
    // entirely; what must NEVER survive is a nested NormalizeText
    assert(normalizes.length <= 1,
      s"nested normalize survived optimization:\n${df.queryExecution.optimizedPlan}")
    assert(df.collect()(0).getString(0) === "a b c")
    // semantics unchanged on a real column (rule fires through Project)
    s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("docs_opt")
    val twice = s.sql("SELECT graft_normalize(graft_normalize(text)) AS n FROM docs_opt")
    val once = s.sql("SELECT graft_normalize(text) AS n FROM docs_opt")
    val colTwice = twice.queryExecution.optimizedPlan
      .expressions.flatMap(_.collect { case n: NormalizeText => n })
    assert(colTwice.length === 1,
      s"column double-normalize not collapsed:\n${twice.queryExecution.optimizedPlan}")
    assert(twice.collect().map(_.getString(0)).toSeq ===
      once.collect().map(_.getString(0)).toSeq)
  }

  test("graft_zvalue32 interleaves bits (SQL call == bit-by-bit reference)") {
    GraftFunctions.register(spark)
    // independent bit-by-bit oracle
    def ref(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L),
      (1L, 2L), (70000L, 131071L)) ++ // masking of >16-bit inputs
      Seq.fill(20)((rnd.nextLong(1 << 17), rnd.nextLong(1 << 17)))
    cases.foreach { case (a, b) =>
      assert(GraftFunctions.zvalue32(a, b) === ref(a & 0xFFFFL, b & 0xFFFFL),
        s"($a,$b)")
      val viaSql = spark.sql(s"SELECT graft_zvalue32($a, $b)").collect()(0).getLong(0)
      assert(viaSql === ref(a & 0xFFFFL, b & 0xFFFFL), s"SQL ($a,$b)")
    }
  }

  test("approx_percentile tracks exact percentile within the sketch bound (q_quantile's scale path)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select($"l_extendedprice")
    val acc = 1000 // error <= 1/acc of the rank
    val Seq(exact, approx) = Seq(
      percentile($"l_extendedprice", array(lit(0.25), lit(0.5), lit(0.95))),
      approx_percentile($"l_extendedprice", array(lit(0.25), lit(0.5), lit(0.95)), lit(acc)))
      .map(c => li.agg(c).collect()(0).getSeq[Double](0))
    val n = li.count()
    // rank error bound: the approx value's rank is within n/acc of target
    val sorted = li.as[Double].collect().sorted
    approx.zip(Seq(0.25, 0.5, 0.95)).foreach { case (v, p) =>
      val rank = sorted.count(_ <= v).toDouble
      assert(math.abs(rank - p * n) <= n.toDouble / acc * 2 + 1,
        s"p=$p approx=$v rank=$rank target=${p * n}")
    }
    assert(exact.length === 3)
  }

  test("graft_bloom_agg / graft_might_contain: SQL Bloom sketch round trip") {
    // build a sketch over 1000 keys, probe members + non-members from SQL
    spark.range(1000).createOrReplaceTempView("bloom_keys")
    val bf = spark.sql(
      "SELECT graft_bloom_agg(xxhash64(CAST(id AS STRING)), 1000, 65536) AS bf FROM bloom_keys")
    bf.createOrReplaceTempView("bloom_bf")
    // members: zero false negatives, ever (the Bloom contract); the
    // sketch side must be a constant or scalar subquery — the shape
    // Spark's own runtime-filter rewrite emits
    val misses = spark.sql(
      """SELECT count(*) AS n FROM bloom_keys
        |WHERE NOT graft_might_contain((SELECT bf FROM bloom_bf),
        |                              xxhash64(CAST(id AS STRING)))""".stripMargin)
      .collect()(0).getLong(0)
    assert(misses === 0L, "bloom filter produced a false negative")
    // non-members: false-positive rate stays near the sizing target
    val fps = spark.sql(
      """SELECT count(*) AS n
        |FROM (SELECT id + 1000000 AS id FROM bloom_keys)
        |WHERE graft_might_contain((SELECT bf FROM bloom_bf),
        |                          xxhash64(CAST(id AS STRING)))""".stripMargin)
      .collect()(0).getLong(0)
    assert(fps < 100, s"false-positive rate ${fps / 1000.0} far above sizing target")
  }

  test("graft_might_contain rejects a non-foldable sketch argument at analysis time") {
    // CONTRACT: the sketch side must be foldable — a literal or a scalar
    // subquery (the shapes the round-trip test uses). A per-row BINARY
    // column is rejected by Spark's BloomFilterMightContain during
    // analysis: the sketch is deserialized ONCE at plan time, never per
    // row. Pin that behavior so the API docs can promise it.
    spark.range(10)
      .selectExpr("CAST(NULL AS BINARY) AS bf",
        "xxhash64(CAST(id AS STRING)) AS h")
      .createOrReplaceTempView("bloom_nonfoldable")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT graft_might_contain(bf, h) FROM bloom_nonfoldable").collect()
    }
    assert(e.getMessage.nonEmpty)
  }

  test("default Bloom width is one shared constant across SQL and DataFrame surfaces") {
    // graft_bloom_agg's no-numBits default and Decontam.bloomDecontam's
    // default parameter both read GraftExtensions.DefaultBloomBits; a
    // sketch built by the SQL default must be byte-identical to one
    // built by an explicit DefaultBloomBits literal.
    spark.range(100).createOrReplaceTempView("bloom_defaults")
    val dflt = spark.sql(
      "SELECT graft_bloom_agg(xxhash64(CAST(id AS STRING))) AS bf FROM bloom_defaults")
      .head().getAs[Array[Byte]](0)
    val explicit = spark.sql(
      s"""SELECT graft_bloom_agg(xxhash64(CAST(id AS STRING)), 1000000,
         |${graft.GraftExtensions.DefaultBloomBits}) AS bf
         |FROM bloom_defaults""".stripMargin)
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(dflt, explicit),
      "SQL default sketch differs from the shared-constant sketch")
  }

  test("bloom-prefiltered decontam output equals the broadcast-join decontam exactly") {
    val dir = "/root/testdata/sf0.001"
    val exact = graft.operators.Decontam.ngramCollisions(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloom = graft.operators.Decontam.bloomDecontam(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(bloom === exact)
  }
}
