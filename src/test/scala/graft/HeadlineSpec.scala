package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // one tuned session shared across suites (local[4] keeps test startup fast)
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"

  /** Runs `f` with the named graft rules and arms switched on (true) or
    * off (false) in `spark.graft.disabled`, restoring the list after. */
  def withGraft[A](arms: (String, Boolean)*)(f: => A): A = {
    val prior = spark.conf.getOption("spark.graft.disabled")
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val next = arms.foldLeft(prior) { case (d, (n, on)) =>
      if (on) d.filterNot(_ == n) else (d :+ n).distinct }
    withConf("spark.graft.disabled" -> next.mkString(","))(f)
  }

  /** Runs `f` with session confs set, restoring the prior values after. */
  def withConf[A](kv: (String, String)*)(f: => A): A = BenchAB.withArm(spark, kv)(f)

  /** Runs `f` with adaptive execution on or off. */
  def withAqe[A](on: Boolean)(f: => A): A = withConf("spark.sql.adaptive.enabled" -> on.toString)(f)
}

class HeadlineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query in the contract runs and yields a well-formed result") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql entries without a query: $extra")
  }

  test("q1 aggregates are sane") {
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("count_order") > 0)
      assert(r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price"))
    }
  }

  test("window_rank_running rn is bounded by 3 per customer") {
    val df = SparkEntry.queries("window_rank_running")(spark, sf)
    assert(df.collect().forall(_.getAs[Int]("rn") <= 3))
  }

  test("topk is sorted descending") {
    val prices = SparkEntry.queries("topk_lineitem")(spark, sf)
      .collect().map(_.getAs[Double]("l_extendedprice"))
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }
}
