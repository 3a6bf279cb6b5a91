package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions.{Dgim, DgimEstimate, Text}

/** Session-scoped SQL function registration — the text UDFs plus the
  * native DGIM aggregate, on a session built without [[GraftExtensions]]
  * (which injects the native expressions and the same [[dgimFunctions]]).
  * Together they give pure-SQL users the reference engine's
  * registered-function surface: the Flink job registers `DGIM_ESTIMATE`
  * as a SQL aggregate
  * (/root/reference/src/main/java/com/bencejdanko/flink/StreamingJob.java:57-58);
  * graft registers the same name over the same (value, ts_seconds)
  * signature.
  *
  * {{{
  * GraftFunctions.register(spark)
  * spark.sql("""
  *   SELECT window_start, dgim_estimate(value, ts_sec) AS count_estimate
  *   FROM traffic GROUP BY window_start""")
  * }}}
  */
object GraftFunctions {

  /** Window size of the registered DGIM functions, in seconds. The
    * reference fixes 60 s at registration time (its jobs use 60 s
    * windows); graft's batch queries use 1 h windows over the events
    * table, so that is the registered default here.
    */
  val DefaultDgimWindowSeconds = 3600L

  /** The SQL names of [[DgimEstimate]], one table for both install
    * paths (this object's [[register]] and [[GraftExtensions]]):
    *  - `dgim_estimate(value, ts_sec)`: the flagship's round-up;
    *  - `dgim_estimate_floor(value, ts_sec)`: the PyFlink variant's floor
    *    of the oldest bucket (job.py:37-46);
    *  - `dgim_sum_estimate(amount, ts_sec)`: the sum (Datar et al. §5).
    * A STRING value counts 1-bits, a BIGINT one sums amounts, so the
    * names differ only in rounding and intent. Narrower integer
    * arguments widen to BIGINT.
    */
  val dgimFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq("dgim_estimate" -> true, "dgim_estimate_floor" -> false,
        "dgim_sum_estimate" -> true).map { case (name, roundUp) =>
      (FunctionIdentifier(name), new ExpressionInfo(classOf[DgimEstimate].getName, name),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"$name takes (value, ts_sec), got ${args.length} arguments")
          val agg = DgimEstimate(widen(args.head), widen(args(1)),
            DefaultDgimWindowSeconds, Dgim.SumBits, roundUp, 0, 0)
          agg.setTagValue(FunctionRegistry.FUNC_ALIAS, name)
          agg
        })
    }

  private def widen(e: Expression): Expression = e.dataType match {
    case ByteType | ShortType | IntegerType => Cast(e, LongType)
    case _ => e
  }

  def register(spark: SparkSession): Unit = {
    dgimFunctions.foreach(ColumnBridge.registerFunction(spark, _))
    spark.udf.register("rolling_hash61", Text.rollingHashUdf)
    // the text-pipeline primitives for pure-SQL users (same single-pass
    // fast paths the operators use, spec-pinned to the Column semantics)
    spark.udf.register("graft_normalize", Text.normalizeFastUdf)
    spark.udf.register("graft_shingles", Text.shinglesFastUdf)
    spark.udf.register("graft_shingle_hashes", Text.shingleHashesFastUdf)
    spark.udf.register("graft_minhash_sig", Text.minhashSigUdf)
    spark.udf.register("graft_minhash_bands", Text.bandsFromSigUdf)
    spark.udf.register("graft_simhash64", Text.simhashUdf)
    // the Z-order layout key (sink_zorder's interleave, SQL-callable so
    // pure-SQL writers can ORDER BY the same curve)
    spark.udf.register("graft_zvalue32", (a: Long, b: Long) => zvalue32(a, b))
  }

  /** Morton interleave of two 16-bit dimensions (low 16 bits of each
    * input): a's bits land on even positions, b's on odd — bit-identical
    * to the Column-expression ladder in `sources.Sinks.spread16`
    * (ExtensionsSpec pins the equivalence).
    */
  def zvalue32(a: Long, b: Long): Long = spreadBits16(a) | (spreadBits16(b) << 1)

  private def spreadBits16(v: Long): Long = {
    var x = v & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }
}
