package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, ShuffleOrigin}

/** The exchange above a packed partial aggregate.
  *
  * Those partials write one shuffle record per state blob, not per
  * group, so the stock exchange's runtime row count (its records
  * written) is no bound on the rows of the aggregate above it. AQE's
  * runtime optimizer reads it as one (`LogicalQueryStage.maxRows`):
  * EliminateLimits would drop a LIMIT above such an aggregate and
  * OptimizeOneRowPlan an ORDER BY. This exchange reports no row count,
  * except zero when it wrote nothing (no blob, no group).
  *
  * Everything else is the stock exchange: node name, metrics, shuffle.
  * The overrides keep the class across child rewrites, and keep it
  * unequal to a stock exchange so a transform that swaps one for the
  * other is not taken for a no-op.
  */
class BlobShuffleExchangeExec(
    partitioning: Partitioning,
    input: SparkPlan,
    origin: ShuffleOrigin,
    advisorySize: Option[Long])
    extends ShuffleExchangeExec(partitioning, input, origin, advisorySize) {

  override def runtimeStatistics: Statistics = {
    val stats = super.runtimeStatistics
    if (stats.rowCount.contains(BigInt(0))) stats else stats.copy(rowCount = None)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ShuffleExchangeExec =
    new BlobShuffleExchangeExec(outputPartitioning, newChild, shuffleOrigin,
      advisoryPartitionSize)

  override def canEqual(that: Any): Boolean = that.isInstanceOf[BlobShuffleExchangeExec]

  override def equals(that: Any): Boolean =
    that.isInstanceOf[BlobShuffleExchangeExec] && super.equals(that)
}

/** Puts a [[BlobShuffleExchangeExec]] in place of every exchange whose
  * child is a packed partial. A query-stage-prep rule, registered
  * after every rule that builds or copies those exchanges
  * (PackedShuffleAgg, TopNThroughAgg). Only AQE reads
  * runtime statistics, so the non-AQE path needs no counterpart. */
object BlobShufflePrep extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e @ ShuffleExchangeExec(p, c: PackedPartialAggExec, o, a)
        if !e.isInstanceOf[BlobShuffleExchangeExec] =>
      new BlobShuffleExchangeExec(p, c, o, a)
  }
}
