package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.functions.Dgim

/** Whole-operator DGIM windowed aggregation as a first-class Catalyst
  * citizen: LogicalPlan → Strategy → SparkPlan, registered via
  * `SparkSessionExtensions.injectPlannerStrategy` (or
  * `spark.experimental.extraStrategies`).
  *
  * Why a custom physical operator instead of groupByKey.mapGroups: the
  * deterministic DGIM semantics (reference PyFlink job,
  * /root/reference/src/usrcode/job.py:75-93 — sort each window's
  * timestamps, fold, estimate at max ts) needs per-group ORDERED input.
  * mapGroups must materialize each group and sort it in user memory —
  * O(group) heap per task, no spill. This operator instead DECLARES its
  * requirements to the planner:
  *
  *  - `requiredChildDistribution` = clustered by (window_start, window_end)
  *  - `requiredChildOrdering`     = (window_start, window_end, ts) asc
  *
  * and EnsureRequirements plans the shuffle + a SPILLABLE external sort.
  * The fold itself then streams over sorted rows with `bits` × O(log² W)
  * DGIM bucket state — group size no longer bounds memory. At 100 TB
  * this is the difference between "one hot window OOMs a task" and
  * "never".
  *
  * The fold is the SUM sketch (Datar et al. 2002 §5 binary
  * decomposition): each amount's set bits feed `bits` independent DGIM
  * builders, and the estimate is the 2^j-weighted sketch total taken at
  * the group's latest timestamp. The count is the sum at `bits = 1` with
  * an amount of 1 on every row. This sort-then-fold device admits an
  * exact SQL replay; the mergeable [[graft.functions.DgimEstimate]] is
  * the incremental streaming form (its cross-partition bucket merge is
  * provably not associative with the fold).
  *
  * Child contract: exactly 4 non-null LONG columns
  * (ws_sec, we_sec, ts_sec, amount).
  * Output: (window_start TS, window_end TS, sum_estimate L, exact_cents L).
  */
case class DgimWindowAggPlan(windowSeconds: Long, bits: Int,
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the operator consumes ALL child columns positionally; without this,
  // ColumnPruning sees zero references and replaces the child with an
  // empty Project
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object DgimWindowAggPlan {
  /** Constructs the plan with FRESH output attributes — output must be a
    * constructor field (not a `val`): plan copies during optimization
    * would otherwise mint new ExprIds and break resolution upstream.
    */
  def apply(windowSeconds: Long, bits: Int, child: LogicalPlan): DgimWindowAggPlan =
    DgimWindowAggPlan(windowSeconds, bits, Seq(
      AttributeReference("window_start", TimestampType, nullable = false)(),
      AttributeReference("window_end", TimestampType, nullable = false)(),
      AttributeReference("sum_estimate", LongType, nullable = false)(),
      AttributeReference("exact_cents", LongType, nullable = false)()), child)
}

object DgimStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: DgimWindowAggPlan =>
      // capture the child's attributes HERE: the physical child is a
      // PlanLater placeholder with empty output until planning finishes,
      // so required* must not read child.output lazily
      DgimWindowAggExec(p.windowSeconds, p.bits, p.output, p.child.output,
        planLater(p.child)) :: Nil
    case _ => Nil
  }

  /** Idempotently register this strategy on a session (the extension-free
    * path; GraftExtensions also injects it).
    */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(DgimStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ DgimStrategy
    }
}

/** Physical operator for [[DgimWindowAggPlan]]: a streaming per-group
  * fold over child rows sorted by (window, ts). Amounts ≤ 0 skip the
  * sketch; oversized amounts saturate at 2^bits − 1; the exact twin
  * sums every row's amount.
  */
case class DgimWindowAggExec(windowSeconds: Long, bits: Int,
    output: Seq[Attribute], childAttrs: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(childAttrs(0), childAttrs(1))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Seq(
    SortOrder(childAttrs(0), Ascending),
    SortOrder(childAttrs(1), Ascending),
    SortOrder(childAttrs(2), Ascending)))

  // one output row per group; group-key partitioning is not expressible in
  // terms of `output` (the keys are transformed), so declare unknown
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    val w = windowSeconds
    val bits = this.bits
    val maxAmount = (1L << bits) - 1
    val name = nodeName
    child.execute().mapPartitions { iter =>
      new Iterator[InternalRow] {
        private val writer = new UnsafeRowWriter(4)
        private var builders: Array[Dgim.Builder] = _
        private var exact = 0L
        private var latest = 0L
        private var hasGroup = false
        private var curWs = 0L
        private var curWe = 0L
        private var pending: InternalRow = _

        private def startGroup(ws: Long, we: Long): Unit = {
          curWs = ws; curWe = we
          builders = Array.fill(bits)(new Dgim.Builder(w))
          exact = 0L
          latest = 0L
          hasGroup = true
        }

        private def accumulate(ts: Long, amount: Long): Unit = {
          exact += amount
          if (amount > 0L) {
            val v = math.min(amount, maxAmount)
            latest = math.max(latest, ts)
            var j = 0
            while (j < bits) {
              if (((v >> j) & 1L) == 1L) builders(j).add(ts)
              j += 1
            }
          }
        }

        private def emit(): InternalRow = {
          var total = 0L
          var j = 0
          while (j < bits) {
            total += (1L << j) * builders(j).state.estimateAt(latest, roundUp = true)
            j += 1
          }
          writer.reset()
          writer.write(0, curWs * 1000000L) // epoch seconds -> micros
          writer.write(1, curWe * 1000000L)
          writer.write(2, total)
          writer.write(3, exact)
          writer.getRow
        }

        private def advance(): Unit = {
          while (pending == null && iter.hasNext) {
            val r = iter.next()
            // enforce the documented child contract (non-null LONGs):
            // getLong on a null slot silently reads 0 and would group the
            // row into the 1970 epoch window instead of failing
            var c = 0
            while (c < 4) {
              require(!r.isNullAt(c), s"$name child emitted a null column at position $c")
              c += 1
            }
            val ws = r.getLong(0); val we = r.getLong(1)
            if (!hasGroup) startGroup(ws, we)
            else if (ws != curWs || we != curWe) {
              pending = emit()
              startGroup(ws, we)
            }
            accumulate(r.getLong(2), r.getLong(3))
          }
          if (pending == null && hasGroup && !iter.hasNext) {
            pending = emit()
            hasGroup = false
          }
        }

        override def hasNext: Boolean = { advance(); pending != null }
        override def next(): InternalRow = {
          advance()
          val r = pending; pending = null; r
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}
