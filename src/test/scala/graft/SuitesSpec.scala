package graft

import org.scalatest.funsuite.AnyFunSuite

/** The suite registry behind BenchAB, BenchBoard and PlanDump: checked
  * without a session or a fixture. */
class SuitesSpec extends AnyFunSuite {

  test("every suite resolves, with unique query names and a board it holds") {
    val names = Seq("entry", "headline", "olap", "h2o", "clickbench", "tpch", "tpcds", "job")
    assert(Suites.all.map(_.name) == names)
    names.foreach { n =>
      val s = Suites(n)
      val qs = s.queries.map(_._1)
      assert(qs.nonEmpty, n)
      assert(qs.distinct.size == qs.size, s"$n has duplicate query names")
      assert(s.names.forall(s.byName.contains), s"$n board names a query it lacks")
      assert(s.ctes.keySet.subsetOf(s.byName.keySet), n)
    }
    assert(Suites("headline").names == Bench.headline.map(_._1))
    assert(intercept[IllegalArgumentException](Suites("tpc")).getMessage.contains("tpch"))
    assert(Suites("tpcds").pick(Nil) == Suites("tpcds").board)
    assert(Suites("tpcds").pick(Seq("dsq01")) == Seq("dsq01"))
    assert(intercept[IllegalArgumentException](Suites("h2o").pick(Seq("h2o_g99")))
      .getMessage.contains("h2o_g99"))
  }

  test("every BenchMicro anchor and micro_ref_scan resolve") {
    val entry = Suites("entry").byName
    (BenchMicro.shapes.map(_._3) ++ BenchMicro.stockShapes.map(_._2) :+ "micro_ref_scan")
      .foreach(q => assert(entry.contains(q), q))
    // BenchAB olap can A/B the ungrouped driver-agg anchor
    assert(Suites("olap").byName.contains("micro_ref_scan"))
  }

  test("a spark.* property overrides a suite default; other properties are ignored") {
    def merged(suite: String, props: (String, String)*) =
      Suites.settings(Suites(suite), 4, props.toMap).toMap
    val h = merged("headline")
    assert(h("spark.master") == "local[4]")
    assert(h("spark.sql.shuffle.partitions") == "2")
    assert(h("spark.sql.adaptive.enabled") == "false")
    assert(merged("tpch")("spark.sql.shuffle.partitions") == "4")
    assert(merged("job")("spark.sql.adaptive.enabled") == "true")
    val o = merged("headline", "spark.sql.shuffle.partitions" -> "7",
      "spark.graft.disabled" -> "VectorizedCacheRead", "java.io.tmpdir" -> "/x")
    assert(o("spark.sql.shuffle.partitions") == "7")
    assert(o("spark.graft.disabled") == "VectorizedCacheRead")
    assert(!o.contains("java.io.tmpdir"))
  }

  test("trailing arguments split into factor, dir and query names") {
    assert(Suites.parseArgs(Seq("q1", "factor=3", "dir=/d", "q2")) ==
      Suites.Args(Some(3L), Some("/d"), Seq("q1", "q2")))
    assert(Suites.parseArgs(Nil) == Suites.Args(None, None, Nil))
    intercept[IllegalArgumentException](Suites.parseArgs(Seq("factr=3")))
  }
}
