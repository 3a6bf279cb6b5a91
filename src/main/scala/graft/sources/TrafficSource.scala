package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lenient decode of reference-style traffic messages:
  * `{"value": "0"|"1", "timestamp": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"}`.
  *
  * Semantics are the reference Kafka source DDL + filter (the Flink
  * reference's `StreamingJob.java:41-55,92-99`), defined by two Spark
  * expressions: malformed JSON → null columns
  * (PERMISSIVE `from_json` = json.ignore-parse-errors); unparsable
  * timestamps → null via `try_to_timestamp` in the session time zone
  * (= TRY_CAST(UNIX_TIMESTAMP(...))); rows with null value or timestamp
  * dropped.
  *
  * Evaluation: one [[TrafficDecode]] per row, under `inline`, so the
  * generator that drops a rejected row is the only operator that decodes
  * it. A message in the reference shape — those two keys in that order,
  * JSON whitespace allowed between tokens, a printable-ASCII value
  * without escapes, a valid 26-byte timestamp with one offset in the
  * session zone — takes the fast path: one scan of its UTF-8 bytes and
  * arithmetic timestamp parsing. Every other message (escapes, non-ASCII,
  * other key sets or orders, non-string values, truncation, a timestamp
  * the fast path cannot decide, a DST gap or overlap) declines to the
  * `from_json` / `try_to_timestamp` pair above, evaluated for that row
  * only. The generator runs inside whole-stage codegen (the decline
  * branch calls the two expressions' own evaluators), needs no shuffle,
  * and works identically on batch and streaming DataFrames.
  */
object TrafficSource {

  val IsoMicros = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  val messageSchema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("timestamp", StringType)))

  /** One message → zero or one `(value, event_ts)` structs: the
    * [[TrafficDecode]] whose decline branch is the lenient `from_json` /
    * `try_to_timestamp` pair, resolved in `spark`.
    */
  def decoded(spark: SparkSession, raw: Column): Column =
    TrafficDecode(raw,
      overString(spark, in => from_json(in, messageSchema)),
      overString(spark, in => try_to_timestamp(in, lit(IsoMicros))))

  /** `f` of one string column, resolved in `spark` (session time zone
    * included), runtime-replaceable expressions replaced, its input bound
    * to ordinal 0: ready for `eval` on a one-field row.
    */
  private def overString(spark: SparkSession, f: Column => Column): Expression = {
    val probe = spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("in", StringType)))).select(f(col("in")))
    val Project(Seq(e), child) =
      ReplaceExpressions(probe.queryExecution.analyzed): @unchecked
    BindReferences.bindReference(e match { case a: Alias => a.child; case o => o },
      child.output)
  }

  /** `raw` JSON string column → (value: String, event_ts: Timestamp,
    * ts_sec: Long epoch seconds), invalid rows filtered.
    */
  def parse(messages: DataFrame, rawCol: String = "raw"): DataFrame =
    messages
      .select(inline(decoded(messages.sparkSession, col(rawCol))))
      .withColumn("ts_sec", unix_timestamp(col("event_ts")))
}
