package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{FloatDotProduct, MinhashBands, MinhashSig, NormalizeText, ShingleGramHashes, SimHash64, WordWindowHashes}

/** Optimizer rule: `graft_normalize` is idempotent (its output alphabet
  * [a-z0-9 ], single-spaced, trimmed, is a fixpoint of the transform),
  * so nested applications collapse to one. Pipelines compose freely
  * (every documents-suite operator normalizes defensively at its own
  * boundary), and composed stages would otherwise pay the byte-scan
  * twice; the algebra, not the caller, removes the redundancy — the same
  * style of rewrite Catalyst applies to e.g. double-trim or cast chains.
  */
object CollapseNormalize extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case NormalizeText(inner: NormalizeText) => inner
    }
}

/** graft's `SparkSessionExtensions` entry point — makes the native
  * expressions available to pure-SQL users:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * spark.sql("SELECT float_dot(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * Registered functions:
  *  - `float_dot(array<float>, array<float>) -> double` — codegen'd
  *    sequential-fold dot product ([[graft.functions.FloatDotProduct]]).
  *  - `graft_normalize(string) -> string` — codegen'd canonical text
  *    normalize ([[graft.functions.NormalizeText]]); sessions that only
  *    call `GraftFunctions.register` get the UDF twin under the same
  *    name with identical semantics.
  *  - `dgim_estimate`, `dgim_estimate_floor`, `dgim_sum_estimate` — the
  *    native DGIM aggregate ([[graft.functions.DgimEstimate]]) from
  *    [[GraftFunctions.dgimFunctions]], the same table
  *    `GraftFunctions.register` installs.
  *
  * Also injected: [[graft.plans.DgimStrategy]] (the custom DGIM window
  * aggregation physical strategy) and [[CollapseNormalize]] (optimizer
  * rule folding nested normalizes), so one extensions line equips a
  * session with graft's full planner/optimizer/function surface.
  */
object GraftExtensions {
  /** Default Bloom sketch width shared by the SQL surface
    * (`graft_bloom_agg` with no numBits arg) and the DataFrame-side
    * consumer ([[graft.operators.Decontam.bloomDecontam]]): 2^23 bits =
    * 1 MiB, Spark's own `BloomFilterAggregate` default — ~0.1% false
    * positives at the 1M-item default estimate. One constant so the two
    * entry points can never drift apart.
    */
  val DefaultBloomBits: Long = 1L << 23
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.DgimStrategy)
    ext.injectOptimizerRule(_ => CollapseNormalize)
    GraftFunctions.dgimFunctions.foreach(ext.injectFunction)
    ext.injectFunction((
      new FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"float_dot takes 2 arguments, got ${args.length}")
        FloatDotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[NormalizeText].getName, "graft_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"graft_normalize takes 1 argument, got ${args.length}")
        NormalizeText(args.head)
      }))
    // The sketch pipeline natives (round 10): same names as the
    // GraftFunctions UDF twins, so an extensions-equipped session gets
    // the codegen'd primitive-loop forms while plain register() sessions
    // keep identical semantics through the UDFs (SketchExprSpec pins
    // bit-parity).
    def inject1(name: String, cls: Class[_], f: Expression => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"$name takes 1 argument, got ${args.length}")
          f(args.head)
        }))
    inject1("graft_shingle_hashes", classOf[ShingleGramHashes], ShingleGramHashes(_))
    inject1("graft_minhash_sig", classOf[MinhashSig], MinhashSig(_))
    inject1("graft_minhash_bands", classOf[MinhashBands], MinhashBands(_))
    inject1("graft_simhash64", classOf[SimHash64], SimHash64(_))
    // graft_window_hashes(text, w): the positional window fingerprints
    // behind dedup_substring; w must be an integer literal (it shapes
    // the expression, not a per-row input)
    ext.injectFunction((
      new FunctionIdentifier("graft_window_hashes"),
      new ExpressionInfo(classOf[WordWindowHashes].getName, "graft_window_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"graft_window_hashes takes (text, w), got ${args.length} args")
        val w = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_window_hashes: w must be an INT literal, got $other")
        }
        require(w >= 1, s"graft_window_hashes: w must be >= 1, got $w")
        WordWindowHashes(args.head, w)
      }))
    // Spark's internal Bloom pair (what its runtime-filter rewrite
    // injects for shuffle-join pruning), surfaced to SQL users for
    // explicit sketch-side pre-filters (see Decontam.bloomDecontam):
    //   graft_bloom_agg(xxhash64(x) [, estItems [, numBits]]) -> binary
    //   graft_might_contain(bloomBinary, xxhash64(x)) -> boolean
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (args: Seq[Expression]) => {
        // size args must be foldable BIGINTs; SQL integer literals
        // arrive as INT, so coerce (Cast of a literal stays foldable)
        def toLong(e: Expression): Expression =
          org.apache.spark.sql.catalyst.expressions.Cast(
            e, org.apache.spark.sql.types.LongType)
        args match {
          case Seq(c) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
              c, org.apache.spark.sql.catalyst.expressions.Literal(1000000L),
              org.apache.spark.sql.catalyst.expressions.Literal(
                GraftExtensions.DefaultBloomBits))
          case Seq(c, est) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
              c, toLong(est))
          case Seq(c, est, bits) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
              c, toLong(est), toLong(bits))
          case _ => throw new IllegalArgumentException(
            s"graft_bloom_agg takes 1-3 arguments, got ${args.length}")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"graft_might_contain takes 2 arguments, got ${args.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args.head, args(1))
      }))
  }
}
