package graft

import org.scalatest.funsuite.AnyFunSuite

/** Suite-wide warm/cold equivalence: every ORACLE-GATED query (the
  * deterministic, totally-ordered subset of the contract) must return
  * byte-identical results with the warm layer active (clustered columnar
  * cache + graft serializer + vectorized cache reads + broadcast cache)
  * as with cold parquet scans. This turns the perf layer's
  * "correctness-neutral" claim into a checked invariant: the bench
  * configuration itself is oracle-equivalent, not just spec-pinned.
  * (Rows-only entries — sketches/samples — are engine-nondeterministic by
  * design and excluded.) Every collect whose executed plan root is the
  * driver merge of sorted runs ([[graft.plans.MergeSortedCollectExec]])
  * is also checked, on the rows it already returned, to be
  * non-decreasing under the node's order — the only surface-wide check
  * of ORDER BY row order (the oracle compares sorted row lists).
  */
class WarmEquivalenceSpec extends AnyFunSuite {
  import SparkTestSession._

  test("all oracle-gated queries: warm (cacheMode) results == cold results") {
    val names = SparkEntry.oracleSql.keySet.toSeq.sorted
    val unordered = scala.collection.mutable.ArrayBuffer.empty[String]
    // collect, and check the rows' order when the merge node produced them
    def run(n: String, mode: String): Seq[String] = {
      val df = SparkEntry.queries(n)(spark, sf)
      val rows = df.collect().toSeq
      MergeSortedCollectSpec.mergedRoot(df).foreach { node =>
        MergeSortedCollectSpec.firstDescent(rows, node).foreach { i =>
          unordered += s"$n ($mode): row $i sorts before row ${i - 1}"
        }
      }
      rows.map(_.toString)
    }
    Tables.cacheMode = false
    val cold = names.map(n => n -> run(n, "cold")).toMap
    Tables.cacheMode = true
    try {
      val bad = names.flatMap { n =>
        try {
          val warm = run(n, "warm")
          if (warm == cold(n)) None
          else Some(s"$n: warm!=cold (first warm=${warm.headOption}, cold=${cold(n).headOption})")
        } catch {
          case e: Throwable => Some(s"$n: warm run THREW ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      assert(bad.isEmpty, bad.mkString("\n"))
      assert(unordered.isEmpty, unordered.mkString("\n"))
    } finally {
      Tables.cacheMode = false
      Tables.clearCache()
    }
  }
}
