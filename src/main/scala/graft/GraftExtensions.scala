package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — the deployment-grade way to make
  * graft's parity functions available in every session (reference analog:
  * extension load hooks, /root/reference/src/include/duckdb/main/
  * extension.hpp):
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * Equivalent at runtime to `GraftFunctions.register(spark)`, but wired
  * through the injected-function mechanism so it also applies to
  * sessions created before user code runs (e.g. thrift server).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftConf.register()
    def inject(name: String, builder: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name), info(name), builder))
    inject("cosine_similarity", a => CosineSimilarity(a(0), a(1)))
    inject("inner_product", a => InnerProduct(a(0), a(1)))
    inject("l2_distance", a => L2Distance(a(0), a(1)))
    inject("jaccard_sim", a => JaccardSimilarity(a(0), a(1)))
    inject("hamming", a => HammingDistance(a(0), a(1)))
    inject("jaro_winkler", a => JaroWinklerSimilarity(a(0), a(1)))
    inject("damerau_levenshtein", a => DamerauLevenshtein(a(0), a(1)))
    inject("grapheme_length", a => GraphemeLength(a.head))
    e.injectFunction((FunctionIdentifier("distinct_with_hll"),
      info("distinct_with_hll"),
      (args: Seq[Expression]) =>
        DistinctWithHll(args(0), args(1)).toAggregateExpression(isDistinct = false)))
    inject("even", a => EvenCeil(a.head))
    inject("gcd", a => Gcd(a(0), a(1)))
    inject("lcm", a => Lcm(a(0), a(1)))
    inject("gamma", a => Gamma(a.head))
    inject("lgamma", a => LGamma(a.head))
    inject("nextafter", a => NextAfter(a(0), a(1)))
    inject("nfc_normalize", a => NfcNormalize(a.head))
    inject("json_merge_patch", a => JsonMergePatch(a(0), a(1)))
    inject("json_pretty", a => JsonPretty(a.head))
    // HAVING-threshold scalar subqueries over the same relation rewrite
    // into a window over the grouped result (WinMagic; TPC-H q11). Runs
    // at post-hoc resolution: the two subtree instances still
    // canonicalize equal there — column pruning later diverges them.
    e.injectPostHocResolutionRule(_ => graft.rules.ScalarAggToWindow)
    e.injectPlannerStrategy(_ => graft.plans.FusedDistinctStrategy)
    e.injectPlannerStrategy(_ => graft.plans.DriverAggStrategy)
    e.injectOptimizerRule(_ => graft.rules.SumRewrite)
    // magic-set pushdown: selective join sides filter the other side's
    // grouped aggregate INPUT (delim-join analog; TPC-H q2/q17/q20)
    e.injectOptimizerRule(_ => graft.rules.SemiJoinThroughAgg)
    // self-join pair-existence inside IN/EXISTS subqueries → grouped
    // min/max (kills the duplicate scan + pair blowup; TPC-DS q95)
    e.injectOptimizerRule(_ => graft.rules.PairExistsToAgg)
    // BEFORE FuseSingleDistinct: when the group keys AND a distinct
    // child are statistics-bounded, the single-job driver-finalized
    // route (exact set slot) beats the fused two-phase distinct; the
    // rule declines without a proof and FuseSingleDistinct then applies
    e.injectOptimizerRule(_ => graft.rules.BoundedKeyDriverAgg)
    e.injectOptimizerRule(_ => graft.rules.FuseSingleDistinct)
    e.injectOptimizerRule(_ => graft.rules.FastUtcDateTrunc)
    e.injectOptimizerRule(_ => graft.rules.FastRegexpExtract)
    // multi-segment %-only LIKE → sequential substring chain (the
    // single-wildcard forms are already LikeSimplification's; TPC-H q13)
    e.injectOptimizerRule(_ => graft.rules.FastLikeChain)
    e.injectOptimizerRule(_ => graft.rules.FastPercentileRule)
    // grouped top-k: Filter(row_number <= k over Window) → k-bounded
    // hash aggregate + posexplode (kills both full sorts; h2o_g08)
    e.injectOptimizerRule(_ => graft.rules.WindowTopKToAgg)
    // multi-key joins whose key list repeats one expression (JOB's
    // CBO transitive-equality residue, [movie_id×5]=[t.id×5]) keep ONE
    // key pair; implied equalities become cheap filters. FIRST so the
    // downstream join rules see the narrowed single-key joins
    e.injectQueryStagePrepRule(_ => graft.rules.DedupJoinKeys)
    // single-string-key broadcast inner joins probe the columnar cache
    // dictionary-first (plans/StringBcastJoin.scala)
    e.injectQueryStagePrepRule(_ => graft.rules.StringBcastJoinRule)
    // grouped-distinct towers: re-key the dedup exchange onto the
    // grouping prefix so the count level is exchange-free (TPC-H q16).
    // BEFORE PackedShuffleAgg so it sees the stock 4-level tower
    e.injectQueryStagePrepRule(_ => graft.rules.DistinctByGroupPrefix)
    // BEFORE PackedShuffleAgg so its generic arm still sees the stock
    // partial/final pair for ORDER-BY-grouping-prefix LIMIT pruning
    e.injectQueryStagePrepRule(_ => graft.rules.TopNThroughAgg)
    // packed-payload shuffle aggregation over long-widenable and string
    // keys (TopN kept its pruned pairs; packed prunes one-long-key ones)
    e.injectQueryStagePrepRule(_ => graft.rules.PackedShuffleAgg)
    // stats-proved partial skip for whatever aggregation pairs remain
    e.injectQueryStagePrepRule(_ => graft.rules.SinglePhaseAgg)
    // stats-proved partial skip for the grouped top-k pair (the
    // high-cardinality regime where the k-bounded partial is an
    // allocation storm that reduces nothing)
    e.injectQueryStagePrepRule(_ => graft.rules.TopKSinglePhase)
    // warm-mode cross-execution broadcast cache under AQE (no-op
    // otherwise; the non-AQE wrap lives in InsertCacheColumnarToRow)
    e.injectQueryStagePrepRule(_ => graft.plans.CachedBroadcastPrep)
    // exchanges above packed partials report no runtime row count
    // (one record per state blob, not per group); after every rule that
    // builds or copies them
    e.injectQueryStagePrepRule(_ => graft.plans.BlobShufflePrep)
    // root ORDER BY → per-task sorted runs merged on the driver at
    // collect (no range-sampling job). LAST, so it sees the plan every
    // rule above left
    e.injectQueryStagePrepRule(_ => graft.rules.MergeSortedCollect)
    e.injectPlanNormalizationRule(_ => graft.rules.RepairCachedOrdering)
    e.injectOptimizerRule(_ => graft.rules.RepairCachedOrdering)
    e.injectColumnar(_ => graft.rules.VectorizedCacheRead)
  }
}
