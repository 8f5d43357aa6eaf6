package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that make these queries scale —
  * filter pushdown to the parquet scan, partition pruning, broadcast of
  * dimension joins, whole-stage codegen over custom expressions. If a
  * refactor regresses one of these, correctness tests won't notice but
  * 100 TB behavior will — so they're pinned here.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q1 filter is pushed down to the parquet scan") {
    val e = explain(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    assert(e.contains("PushedFilters: ["), e)
    assert(e.contains("l_shipdate"), e)
    assert(e.matches("(?s).*PushedFilters: \\[[^]]*LessThanOrEqual\\(l_shipdate[^]]*].*"), e)
  }

  test("scan reads only referenced columns (projection pushdown)") {
    val e = explain(Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity")).filter(col("l_quantity") > 10))
    val readSchema = e.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q5 broadcasts every dimension join (no fact-table shuffle for dims)") {
    val e = explain(SparkEntry.queries("q5_local_supplier")(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(e).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts\n$e")
  }

  test("partitioned write is read back with partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    Tables(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val e = explain(spark.read.parquet(dir).filter(col("l_returnflag") === "R"))
    assert(e.contains("PartitionFilters"), e)
    assert(e.matches("(?s).*PartitionFilters: \\[[^]]*l_returnflag[^]]*].*"), e)
  }

  test("vector expressions stay inside whole-stage codegen") {
    val df = Tables(spark, sf, "embeddings")
      .select(VectorFunctions.cosine_similarity(col("embedding"), col("embedding")).as("c"))
      .filter(col("c") > 0.5)
    val e = explain(df)
    // formatted mode marks whole-stage-codegen operators with `[codegen id : N]`
    assert(e.contains("[codegen id :"), e)
    assert(e.linesIterator.exists(l => l.contains("Project") && l.trim.startsWith("*")), e)
  }

  test("QUALIFY rewrite benefits from WindowGroupLimit (rank filter pushed into window)") {
    val plan = SparkEntry.queries("window_rank_running")(spark, sf)
      .queryExecution.executedPlan.toString()
    // per-partition top-k without materializing full ranks — essential at scale
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("dedup candidate generation never plans a cartesian product") {
    import graft.operators.Dedup
    val docs = Tables(spark, sf, "documents")
    for (df <- Seq(
        Dedup.minhashPairs(docs, "doc_id", "text"),
        Dedup.simhashPairs(docs, "doc_id", "text"),
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxDocFrequency = 1000))) {
      val e = explain(df)
      assert(!e.contains("CartesianProduct"), e.linesIterator.take(30).mkString("\n"))
      assert(!e.contains("BroadcastNestedLoopJoin"), e.linesIterator.take(30).mkString("\n"))
    }
  }

  test("aggregation plans are two-phase (partial before shuffle)") {
    // q13 groups by a HIGH-cardinality key (custkey) — the shuffled
    // aggregate is the right plan there and must stay two-phase
    val e = explain(SparkEntry.queries("q13_customer_distribution")(spark, sf))
    // either Spark's partial+final HashAggregate pair, or the
    // packed-state pair that replaces it — both are the two-phase
    // map-side-combine shape this test pins
    val hashAggs = "HashAggregate".r.findAllIn(e).length
    val packedPair = e.contains("PackedPartialAgg") && e.contains("PackedFinalAgg")
    assert(hashAggs >= 2 || packedPair,
      s"expected partial+final (hash or packed) aggregate pair, got $hashAggs:\n$e")
  }

  test("low-cardinality headline aggregates are single-job driver-finalized") {
    // q1 (6 groups) and tumbling (hour x type) use the coordinator-merge
    // aggregate: one DriverGroupAgg, NO exchange anywhere in the plan
    for (name <- Seq("q1_pricing_summary", "events_tumbling_1h")) {
      val e = explain(SparkEntry.queries(name)(spark, sf))
      assert(e.contains("DriverGroupAgg"), s"$name: $e")
      assert(!e.contains("Exchange"), s"$name plans an exchange:\n$e")
    }
  }
}
