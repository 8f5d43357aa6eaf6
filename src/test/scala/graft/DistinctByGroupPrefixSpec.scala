package graft

import graft.rules.DistinctByGroupPrefix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.funsuite.AnyFunSuite

/** rules/DistinctByGroupPrefix: grouped `count(DISTINCT d) GROUP BY G`
  * re-keys the dedup exchange onto G and completes the count in-place —
  * one exchange instead of two. Differential vs the stock tower (hatch
  * off), NULL keys and NULL distinct values, duplicates spread across
  * partitions, the multi-column distinct form, and the declines (no NDV
  * metadata; a non-distinct aggregate riding along).
  */
class DistinctByGroupPrefixSpec extends AnyFunSuite {
  import SparkTestSession._

  // keep the packed claims out of the declined shapes so the
  // exchange-count assertions pin THIS rule's behavior
  private def withOthersOff[A](f: => A): A = withGraft("PackedShuffleAgg" -> false)(f)

  private val n = 8000L

  /** g1 string ~40 distinct, g2 int ~50 distinct, d long with duplicates
    * across partitions (id % 1000) and NULLs; NULL g1 rows too. The NDV
    * metadata proves the skew guard (40*50=2000 ≥ 64*4 partitions).
    */
  private lazy val annotated: DataFrame = {
    val df = spark.range(n)
      .select(
        when(col("id") % 97 =!= 0, concat(lit("brand_"), (col("id") % 40).cast("string")))
          .as("g1"),
        (col("id") % 50).cast("int").as("g2"),
        when(col("id") % 13 =!= 0, col("id") % 1000).as("d"),
        (col("id") % 7).as("d2"))
      .repartition(4)
      .withMetadata("g1", new MetadataBuilder()
        .putLong("graft.ndvLow", 40L).putLong("graft.rowCount", n).build())
      .withMetadata("g2", new MetadataBuilder()
        .putLong("graft.ndvLow", 50L).putLong("graft.rowCount", n).build())
    df.persist(); df.count(); df
  }

  private def unwrap(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(unwrap)
  }
  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect()
    unwrap(df.queryExecution.executedPlan).collect { case s: ShuffleExchangeExec => s }
  }
  private def hashAggs(df: DataFrame): Seq[HashAggregateExec] = {
    df.collect()
    unwrap(df.queryExecution.executedPlan).collect { case h: HashAggregateExec => h }
  }

  private def q(src: DataFrame): DataFrame =
    src.groupBy(col("g1"), col("g2")).agg(countDistinct(col("d")).as("cd"))

  test("rewrite fires: one exchange, keyed on the grouping prefix") {
    val sh = shuffles(q(annotated))
    assert(sh.length == 1, s"expected 1 exchange, got ${sh.length}")
    val keys = sh.head.outputPartitioning match {
      case hp: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        hp.expressions.map(_.references.head.name).toSet
      case other => fail(s"unexpected partitioning $other")
    }
    assert(keys == Set("g1", "g2"), s"exchange must be keyed on G only: $keys")
    val aggs = hashAggs(q(annotated))
    assert(aggs.length == 3, s"complete+dedupF+dedupP expected: ${aggs.map(_.nodeName)}")
    assert(aggs.exists(_.aggregateExpressions.exists(
      _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Complete)))
  }

  test("differential: results identical with the hatch off") {
    val on = q(annotated).collect().map(_.toSeq).sortBy(_.mkString("|"))
    withGraft("DistinctByGroupPrefix" -> false) {
      assert(shuffles(q(annotated)).length >= 2, "hatch must restore the stock tower")
      val off = q(annotated).collect().map(_.toSeq).sortBy(_.mkString("|"))
      assert(on.toSeq == off.toSeq)
    }
  }

  test("multi-column distinct fires and matches the stock result") {
    def q2(src: DataFrame) =
      src.groupBy(col("g1")).agg(countDistinct(col("d"), col("d2")).as("cd"))
    // g1 alone: ndv 40 < 64*4 → guard declines; widen with relaxed factor
    withConf("spark.graft.distinctPrefix.minKeyFactor" -> "8") {
      assert(shuffles(q2(annotated)).length == 1)
      val on = q2(annotated).collect().map(_.toSeq).sortBy(_.mkString("|"))
      val off = withGraft("DistinctByGroupPrefix" -> false)(
        q2(annotated).collect().map(_.toSeq).sortBy(_.mkString("|")))
      assert(on.toSeq == off.toSeq)
    }
  }

  test("declines without NDV metadata (skew unprovable)") { withOthersOff {
    val plain = spark.range(n)
      .select(concat(lit("b"), (col("id") % 40).cast("string")).as("g1"),
        (col("id") % 50).cast("int").as("g2"), (col("id") % 1000).as("d"))
      .repartition(4)
    plain.persist(); plain.count()
    try assert(shuffles(q(plain)).length >= 2, "no stats → stock tower stays")
    finally plain.unpersist()
  } }

  test("declines when the skew guard fails (low-NDV prefix)") { withOthersOff {
    // group by g2 only: ndv 50 < 64*4
    val low = annotated.groupBy(col("g2")).agg(countDistinct(col("d")).as("cd"))
    assert(shuffles(low).length >= 2, "ndv(G) below the key-spread floor → decline")
  } }

  test("declines when a non-distinct aggregate rides along") { withOthersOff {
    val mixed = annotated.groupBy(col("g1"), col("g2"))
      .agg(countDistinct(col("d")).as("cd"), count(lit(1)).as("c"))
    assert(shuffles(mixed).length >= 2,
      "dedup levels carry PartialMerge state → decline")
    // and the result is still correct through the stock path
    val on = mixed.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val off = withGraft("DistinctByGroupPrefix" -> false)(
      mixed.collect().map(_.toSeq).sortBy(_.mkString("|")))
    assert(on.toSeq == off.toSeq)
  } }
}
