package graft

import graft.rules.SinglePhaseAgg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.funsuite.AnyFunSuite

/** rules/SinglePhaseAgg: the stats-proved partial-aggregation skip.
  * A cached table whose column metadata proves groups≈rows plans ONE
  * Complete-mode aggregate after the exchange; results are identical
  * with the rule on and off; and the rule declines without the proof
  * or with a Filter between the partial and the scan.
  */
class SinglePhaseAggSpec extends AnyFunSuite {
  import SparkTestSession._

  // PackedShuffleAgg (r12) runs first and claims the multi/string-key
  // pairs this spec builds; disable it here so the single-phase rule's
  // own mechanics stay pinned (it remains the route for pairs packed
  // declines: unsupported agg types, >64 keys, decimal sums)
  private def withPackedOff[A](f: => A): A = withGraft("PackedShuffleAgg" -> false)(f)

  private val n = 20000L

  // k is ~unique (the groups≈rows driver), s repeats — mirrors
  // ClickBench's (UserID, SearchPhrase)
  private lazy val annotated: DataFrame = {
    import spark.implicits._
    // repartition(4): round-robin, so the grouping exchange is NOT
    // elided and the collapse rule (which owns the single-partition
    // case) stays out of the way
    val df = spark.range(n)
      .select(col("id").as("k"), (col("id") % 7).cast("string").as("s"),
        (col("id") % 100).as("v"))
      .repartition(4)
      .withMetadata("k", new MetadataBuilder()
        .putLong("graft.ndvLow", (n * 0.95).toLong)
        .putLong("graft.rowCount", n).build())
    df.persist()
    df.count()
    df
  }

  private def aggNodes(df: DataFrame): Seq[HashAggregateExec] = {
    df.collect()
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[HashAggregateExec] = {
      val self = p match {
        case h: HashAggregateExec => Seq(h)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self ++ kids.flatMap(unwrap)
    }
    unwrap(df.queryExecution.executedPlan)
  }

  private def grouped(src: DataFrame): DataFrame =
    src.groupBy(col("k"), col("s")).agg(count(lit(1)).as("c"), sum(col("v")).as("sv"))

  test("proved groups≈rows plans a single Complete aggregate") { withPackedOff {
    val aggs = aggNodes(grouped(annotated))
    assert(aggs.length == 1, aggs.map(_.aggregateExpressions.map(_.mode)).toString)
    assert(aggs.head.aggregateExpressions.forall(
      _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Complete))
  } }

  test("results identical with the rule disabled (differential)") { withPackedOff {
    val on = grouped(annotated).orderBy("k", "s").collect()
    withGraft("SinglePhaseAgg" -> false) {
      val aggs = aggNodes(grouped(annotated))
      assert(aggs.length == 2, "hatch must restore the two-phase plan")
      val off = grouped(annotated).orderBy("k", "s").collect()
      assert(on.toSeq == off.toSeq)
    }
  } }

  test("declines without the NDV proof") { withPackedOff {
    import spark.implicits._
    val plain = spark.range(n)
      .select(col("id").as("k"), (col("id") % 7).cast("string").as("s"),
        (col("id") % 100).as("v"))
      .repartition(4)
    plain.persist(); plain.count()
    try {
      val aggs = aggNodes(grouped(plain))
      assert(aggs.length == 2, "no metadata → keep the stock two-phase plan")
    } finally plain.unpersist()
  } }

  test("declines when a Filter breaks the row-count premise") { withPackedOff {
    val filtered = annotated.filter(col("v") < 50)
    val aggs = aggNodes(grouped(filtered))
    assert(aggs.length == 2, "filtered input → full-table NDV proof is void")
    // and the filtered results still match the hatch-off plan
    val on = grouped(filtered).orderBy("k", "s").collect()
    withGraft("SinglePhaseAgg" -> false)(
      assert(on.toSeq == grouped(filtered).orderBy("k", "s").collect().toSeq))
  } }

  test("low-ndv grouping keeps the map-side combine") {
    val aggs = aggNodes(
      annotated.groupBy(col("s")).agg(sum(col("v")).as("sv")))
    assert(aggs.length >= 2 ||
      aggs.isEmpty, // packed/driver routes may claim the single-key shape
      aggs.map(_.nodeName).toString)
  }
}
