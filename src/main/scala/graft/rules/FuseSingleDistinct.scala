package graft.rules

import graft.GraftRule
import graft.functions.BitChunkCount
import graft.plans.SingleDistinctPartial

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Auto-route `SELECT count(DISTINCT k), <simple aggs> FROM t` (ungrouped,
  * exactly one distinct) into the fused single-pass shape
  * ([[graft.plans.SingleDistinctPartial]] + disjoint-bucket merge).
  *
  * Spark's stock plan for this shape is two full aggregation levels: a
  * groupBy(k) de-duplication whose exchange carries ONE ROW PER DISTINCT
  * KEY, then an ungrouped final whose merge funnels through a single
  * reducer; the non-distinct aggregates ride along as PartialMerge
  * through both. The reference instead evaluates the distinct against a
  * per-thread hash set fused into the same scan as the plain aggregates
  * (distinct_aggregate_data.cpp + physical_ungrouped_aggregate.cpp).
  * This rewrite is that plan: one pass builds the set and the piggyback
  * partials, the exchange carries O(distinct keys) PACKED BYTES split
  * into disjoint key-hash buckets, and the bucket merge is parallel.
  * Measured at sf1 this took `h2o_count_distinct` from ~16x DuckDB to
  * low single digits (PERF.md r7).
  *
  * Scope guards (bail = leave Spark's plan): ungrouped; exactly one
  * distinct aggregate and it is count(DISTINCT <int/long-family expr>);
  * no FILTER clauses; piggyback aggregates limited to
  * count(*) / count(col) / sum / avg / min / max over int-family or
  * float/double inputs; deterministic expressions; batch plans only.
  * `spark.graft.disabled=FuseSingleDistinct` disables (A/B + differential specs).
  */
object FuseSingleDistinct extends GraftRule[LogicalPlan] {
  import SingleDistinctPartial._

  /** decline the fuse above this estimated total chunk-blob footprint */
  val MaxFuseBytes: Long = 32L << 20

  private def intFamily(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType => true
    case _ => false
  }
  private def numeric(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _ => false
  }

  /** kind + partial-input expression for a supported non-distinct agg. */
  private def classify(fn: AggregateFunction): Option[(String, Expression)] = fn match {
    case Count(Seq(l: Literal)) if l.value != null => Some((KindCountStar, Literal(1)))
    case Count(Seq(e)) => Some((KindCount, e))
    case s: Sum if numeric(s.child.dataType) => Some((KindSum, s.child))
    case av: Average if numeric(av.child.dataType) => Some((KindAvg, av.child))
    case m: Min if numeric(m.child.dataType) => Some((KindMin, m.child))
    case m: Max if numeric(m.child.dataType) => Some((KindMax, m.child))
    case _ => None
  }

  protected def rewrite(plan: LogicalPlan): LogicalPlan = {
    plan.transformUp {
      case a: Aggregate
          if a.resolved && a.groupingExpressions.isEmpty && !a.child.isStreaming =>
        tryRewrite(a).getOrElse(a)
    }
  }

  private def tryRewrite(a: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.trees.TreePattern
    // bail on correlation (decorrelation must still see stock nodes) and
    // on subquery expressions riding the aggregate list
    if (a.containsPattern(TreePattern.OUTER_REFERENCE) ||
        a.aggregateExpressions.exists(_.containsPattern(TreePattern.PLAN_EXPRESSION)))
      return None
    // unique aggregate calls, in first-appearance order
    val aggs = ArrayBuffer.empty[AggregateExpression]
    a.aggregateExpressions.foreach(_.foreach {
      case ae: AggregateExpression =>
        if (!aggs.exists(_.semanticEquals(ae))) aggs += ae
      case _ =>
    })
    if (aggs.isEmpty || aggs.exists(ae => ae.filter.isDefined || !ae.deterministic))
      return None
    if (a.aggregateExpressions.exists(!_.deterministic)) return None
    val (distincts, plains) = aggs.toSeq.partition(_.isDistinct)
    if (distincts.length != 1) return None
    val distinctExpr = distincts.head.aggregateFunction match {
      case Count(Seq(e)) if intFamily(e.dataType) => e
      case _ => return None
    }
    // Stats gate (r12): the fused exchange carries one 16-byte
    // (word, bits) pair per TOUCHED WORD — words ≤ min(ndv, value-span/64)
    // — through at most 64 reducers. Dense domains (h2o ids 1..N) touch
    // ~ndv/64 words, so the fuse wins even at 10^7 keys; sparse hash-like
    // domains touch ~ndv words, and at 10^7 the 160 MB of blobs LOSE 3×
    // to the stock two-phase distinct (ClickBench count(DISTINCT UserID)
    // over 10M ~unique users: fused 1.32 s vs stock 0.42 s, same hour).
    // When the cache's NDV sketch + value range (graft.ndvLow/minVal/
    // maxVal) bound the footprint above MaxFuseBytes, decline and keep
    // Spark's plan. No stats → fuse, the status quo.
    distinctExpr match {
      case attr: AttributeReference if attr.metadata.contains("graft.ndvLow") =>
        val ndvEst = BigInt((attr.metadata.getLong("graft.ndvLow") * 1.25).toLong)
        val wordsUpper =
          if (attr.metadata.contains("graft.minVal")) {
            val span = BigInt(attr.metadata.getLong("graft.maxVal")) / 64 -
              BigInt(attr.metadata.getLong("graft.minVal")) / 64 + 1
            ndvEst.min(span)
          } else ndvEst
        if (wordsUpper * 16 > MaxFuseBytes) return None
      case _ =>
    }
    // every output column must be an alias over supported pieces
    if (a.aggregateExpressions.exists { case _: Alias => false; case _ => true })
      return None
    val classified = plains.map(ae => classify(ae.aggregateFunction))
    if (classified.exists(_.isEmpty)) return None
    val kinds: Seq[String] = classified.map(_.get._1)
    val inputs: Seq[Expression] = classified.map(_.get._2)

    // Bucket count trades merge parallelism against exchange stream count
    // (each map task opens one compressed stream PER reduce partition —
    // at bench scale those stream inits/commits dominate the sub-MB
    // chunk payload). Post-chunk-encoding the merge is a popcount OR at
    // GB/s, so a handful of reducers absorbs billions of distinct keys;
    // scale the count with the session's shuffle width for wide clusters.
    val buckets = math.max(8, math.min(conf.numShufflePartitions / 4, 64))
    val partialOut = freshOutput(kinds, inputs.map(_.dataType))
    val partial = SingleDistinctPartial(
      distinctExpr, inputs, kinds, buckets, a.child, partialOut)
    val bucketAttr = partialOut.head
    val blobAttr = partialOut(1)
    // piggy slot i -> (value attr option, count attr) of the partial
    val slotAttrs: Seq[(Option[Attribute], Attribute)] = {
      var col = 2
      kinds.zip(inputs).map { case (k, in) =>
        val v = valueType(k, in.dataType).map { _ =>
          val attr = partialOut(col); col += 1; attr
        }
        val c = partialOut(col); col += 1
        (v, c)
      }
    }

    def agg(fn: AggregateFunction): Expression = fn.toAggregateExpression()
    def mergeOf(kind: String, v: Expression): Expression = kind match {
      case KindMin => agg(Min(v))
      case KindMax => agg(Max(v))
      case _ => agg(Sum(v))
    }

    // level 1: per-bucket union of disjoint key slices + piggy re-merge.
    // The explicit repartition puts the exchange BELOW the aggregate pair:
    // each task emits at most one row per bucket, so a map-side partial
    // would deserialize and rebuild every key set once more for nothing —
    // pre-partitioned, the pair is adjacent and CollapsePartialAggregate
    // folds it into one Complete pass per bucket slice
    val repart = org.apache.spark.sql.catalyst.plans.logical
      .RepartitionByExpression(Seq(bucketAttr), partial, buckets)
    val bn1 = Alias(agg(BitChunkCount(blobAttr)), "bn")()
    val slots1 = slotAttrs.zip(kinds).map { case ((v, c), k) =>
      (v.map(a0 => Alias(mergeOf(k, a0), a0.name)()), Alias(agg(Sum(c)), c.name)())
    }
    val m1 = Aggregate(
      Seq(bucketAttr),
      bn1 +: slots1.flatMap { case (v, c) => v.toSeq :+ c },
      repart)

    // final level: the bucket merge emits at most `buckets` rows, so the
    // last ungrouped fold is O(buckets) — run it on the coordinator
    // (SingleDistinctCombine) instead of paying a SinglePartition
    // exchange + final-aggregate query stage. Merge ops align with m1's
    // output columns; result expressions evaluate over the combined row.
    val mergeOps: Seq[String] = "sum" +: slots1.zip(kinds).flatMap { case ((v, c), k) =>
      v.map(_ => k match {
        case KindMin => "min"
        case KindMax => "max"
        case _ => "sum"
      }).toSeq :+ "sum"
    }

    // final value expression per original aggregate call, over m1 output
    val plainFinal: Seq[Expression] = slots1.zip(kinds).zip(plains).map {
      case (((v, c), kind), orig) =>
        val cAttr = c.toAttribute
        kind match {
          case KindCountStar | KindCount => Coalesce(Seq(cAttr, Literal(0L)))
          case KindSum =>
            val sumT = orig.aggregateFunction.dataType
            if (v.get.toAttribute.dataType == sumT) v.get.toAttribute
            else Cast(v.get.toAttribute, sumT)
          case KindAvg =>
            Divide(Cast(v.get.toAttribute, DoubleType), Cast(cAttr, DoubleType))
          case KindMin | KindMax =>
            val t = orig.aggregateFunction.dataType
            if (v.get.toAttribute.dataType == t) v.get.toAttribute
            else Cast(v.get.toAttribute, t)
        }
    }
    val nd: Expression = Coalesce(Seq(bn1.toAttribute, Literal(0L)))
    val replacement: Seq[(AggregateExpression, Expression)] =
      (distincts.head -> nd) +: plains.zip(plainFinal)

    val rebuiltExprs: Seq[Expression] = a.aggregateExpressions.map { case al: Alias =>
      al.child.transform {
        case ae: AggregateExpression =>
          replacement.find(_._1.semanticEquals(ae)).map(_._2).getOrElse(return None)
      }
    }
    Some(graft.plans.SingleDistinctCombine(mergeOps, rebuiltExprs, a.output, m1))
  }
}
