package graft

import graft.rules.FastLikeChain
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** rules/FastLikeChain: multi-segment %-only LIKE evaluates as a
  * sequential substring chain. Differential vs stock regex LIKE across
  * the match surface (overlaps, NULLs, multibyte, empty strings), plus
  * the decline surface (underscore, anchored ends, escape char).
  */
class FastLikeChainSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    Seq(
      "the special delivery had requests pending",
      "special requests",
      "requests before special",        // order matters: no match
      "specialrequests",                // adjacent
      "aaa", "aa", "",                  // overlap probes
      "spëcial ünïcode requests ✓",     // multibyte
      "nothing here",
      null
    ).toDF("s").repartition(3)
      // persist: a bare LocalRelation would be constant-folded by
      // ConvertToLocalRelation and the plan assertions would see nothing
      .persist()
  }

  private def rows(q: String): Seq[String] = {
    corpus.createOrReplaceTempView("corpus")
    spark.sql(q).collect().toSeq.map(_.toString).sorted
  }

  private def differential(q: String): Unit = {
    val on = rows(q)
    withGraft("FastLikeChain" -> false)(assert(on == rows(q), s"differential failed for: $q"))
  }

  test("rewrite fires: plan holds the chain, not a Like") {
    corpus.createOrReplaceTempView("corpus")
    val df = spark.sql("SELECT s FROM corpus WHERE s LIKE '%special%requests%'")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("CONTAINSCHAIN"), optimized)
    assert(!optimized.contains(" LIKE "), optimized)
  }

  test("differential: two and three segments, NOT form, overlap, unicode") {
    differential("SELECT s FROM corpus WHERE s LIKE '%special%requests%'")
    differential("SELECT s FROM corpus WHERE s NOT LIKE '%special%requests%'")
    differential("SELECT s FROM corpus WHERE s LIKE '%sp%ial%requests%'")
    differential("SELECT s FROM corpus WHERE s LIKE '%aa%a%'")
    differential("SELECT s FROM corpus WHERE s LIKE '%ünïcode%✓%'")
    differential("SELECT s, s LIKE '%special%requests%' AS m FROM corpus")
  }

  test("declines: underscore, anchored prefix/suffix, single segment") {
    corpus.createOrReplaceTempView("corpus")
    def optPlan(q: String): String =
      spark.sql(q).queryExecution.optimizedPlan.toString
    assert(!optPlan("SELECT s FROM corpus WHERE s LIKE '%spe_ial%requests%'")
      .contains("CONTAINSCHAIN"))
    assert(!optPlan("SELECT s FROM corpus WHERE s LIKE 'special%requests%'")
      .contains("CONTAINSCHAIN"))
    assert(!optPlan("SELECT s FROM corpus WHERE s LIKE '%special%requests'")
      .contains("CONTAINSCHAIN"))
    // single segment is LikeSimplification's Contains, not ours
    assert(!optPlan("SELECT s FROM corpus WHERE s LIKE '%special%'")
      .contains("CONTAINSCHAIN"))
    // results still correct through the stock path
    differential("SELECT s FROM corpus WHERE s LIKE 'special%requests%'")
  }

  test("segments parser: empty runs collapse, escape declines") {
    assert(FastLikeChain.segments("%a%%b%", '\\').contains(Seq("a", "b")))
    assert(FastLikeChain.segments("%a%b%", '\\').contains(Seq("a", "b")))
    assert(FastLikeChain.segments("%a%", '\\').isEmpty)
    assert(FastLikeChain.segments("a%b%", '\\').isEmpty)
    assert(FastLikeChain.segments("%a\\%b%c%", '\\').isEmpty)
    assert(FastLikeChain.segments("%a_b%c%", '\\').isEmpty)
  }
}
