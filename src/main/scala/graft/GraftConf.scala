package graft

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.internal.SQLConf

/** graft's session settings: `spark.graft.*` SQLConf entries, read at
  * planning time (Spark SQL, SIGMOD'15 §4: Catalyst rules see the
  * session's conf). Rules read them when they run; operators get the
  * values frozen into fields of their physical node, so no task reads a
  * setting and two sessions of one SparkContext plan independently.
  *
  * Set them like any SQL conf: on the builder
  * (`.config("spark.graft.disabled", "PackedShuffleAgg")`), with
  * `spark.conf.set`, or `SET spark.graft.disabled=...`.
  */
object GraftConf {

  /** Rules `spark.graft.disabled` switches off by their object name
    * (each extends [[GraftRule]]). */
  val Rules: Seq[String] = Seq(
    "BoundedKeyDriverAgg", "CollapsePartialAggregate", "DedupJoinKeys",
    "DictFilterScan", "DistinctByGroupPrefix", "FastLikeChain",
    "FastPercentileRule", "FastRegexpExtract", "FastUtcDateTrunc",
    "FuseSingleDistinct", "PackedShuffleAgg", "PairExistsToAgg",
    "ScalarAggToWindow", "SemiJoinThroughAgg",
    "SessionCountRule", "SinglePhaseAgg", "SortedRunAggRule",
    "StringBcastJoinRule", "TopKSinglePhase", "TopNThroughAgg",
    "WindowTopKToAgg")

  /** Arms inside a rule or operator that can be switched off alone:
    *  - `VectorizedCacheRead`: columnar reads of the graft cache
    *    (rules/VectorizedCacheRead);
    *  - `StreamingWindow`: lag-only windows as plans/StreamingWindow;
    *  - `DriverAgg.ungrouped`: ungrouped aggregates on the driver agg;
    *  - `PackedAgg.dictKeys`, `PackedAgg.pairKeys`,
    *    `PackedAgg.selectionFold`: the packed partial's dictionary-id
    *    keys, 2-key pair memo and folded filter — on both of its sinks,
    *    the shuffle and the driver-final aggregate;
    *  - `SortedRunAgg.topN`: the top-n heap fused into the sorted-run
    *    drain.
    */
  val Arms: Seq[String] = Seq(
    "VectorizedCacheRead", "StreamingWindow", "DriverAgg.ungrouped",
    "PackedAgg.dictKeys", "PackedAgg.pairKeys", "PackedAgg.selectionFold",
    "SortedRunAgg.topN")

  private val names: Set[String] = (Rules ++ Arms).toSet

  val Disabled = SQLConf.buildConf("spark.graft.disabled")
    .doc("Comma-separated graft rules and arms to leave out of planning " +
      "(names in GraftConf.Rules and GraftConf.Arms). Empty: all on.")
    .stringConf
    .toSequence
    .checkValue(_.forall(names), s"must name only: ${(Rules ++ Arms).mkString(", ")}")
    .createWithDefault(Nil)

  val FlushGroups = SQLConf.buildConf("spark.graft.agg.flushGroups")
    .doc("Groups a packed partial holds before it flushes its map " +
      "as blobs and starts over.")
    .intConf
    .checkValue(_ > 0, "must be positive")
    .createWithDefault(1 << 21)

  val PassThroughCheckRows = SQLConf.buildConf("spark.graft.agg.passThroughCheckRows")
    .doc("Rows a packed partial reads before it decides whether to stop " +
      "aggregating and pass rows through.")
    .intConf
    .checkValue(_ > 0, "must be positive")
    .createWithDefault(1 << 16)

  val DistinctPrefixKeyFactor = SQLConf.buildConf("spark.graft.distinctPrefix.minKeyFactor")
    .doc("DistinctByGroupPrefix re-keys a distinct tower only when the " +
      "grouping prefix's ndv bound covers this many times the shuffle width.")
    .longConf
    .checkValue(_ > 0, "must be positive")
    .createWithDefault(64L)

  /** Loads this object, which registers the entries above with SQLConf:
    * from then on a bad value fails when it is set. */
  def register(): Unit = ()

  /** Whether the session whose conf is active leaves `name` on. */
  def enabled(name: String): Boolean = {
    require(names(name), s"unknown graft rule or arm: $name")
    !SQLConf.get.getConf(Disabled).contains(name)
  }
}

/** A graft rule that `spark.graft.disabled` can switch off by its object
  * name; the check is here, not in each rule. */
trait GraftRule[T <: TreeNode[T]] extends Rule[T] {
  final val name: String = ruleName.substring(ruleName.lastIndexOf('.') + 1)
  require(GraftConf.Rules.contains(name), s"$name is missing from GraftConf.Rules")

  protected def rewrite(plan: T): T

  final override def apply(plan: T): T =
    if (GraftConf.enabled(name)) rewrite(plan) else plan
}
