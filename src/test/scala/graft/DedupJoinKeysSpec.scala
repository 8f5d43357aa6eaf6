package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Join-key dedup for repeated-expression multi-key broadcast joins
  * (the JOB `[movie_id×5]=[t.id×5]` shape): differential vs the stock
  * multi-key BHJ with NULL keys, unequal-pair rows, duplicate build
  * rows (bag multiplicity), both filter placements (stream side and
  * under the build broadcast), and the decline surface.
  */
class DedupJoinKeysSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Key counts of every BroadcastHashJoin line in the rendered final
    * plan (AQE hides the inner plan from collect(), so string-parse:
    * first [...] group per line, comma count at bracket depth 0).
    */
  private def bhjKeyCounts(df: DataFrame): Seq[Int] = {
    df.collect()
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("BroadcastHashJoin ["))
      .map { line =>
        val s = line.substring(line.indexOf("BroadcastHashJoin [") + 18)
        var depth = 0; var keys = 1; var i = 0; var done = false
        while (!done && i < s.length) {
          s.charAt(i) match {
            case '[' => depth += 1
            case ']' => depth -= 1; if (depth == 0) done = true
            case ',' if depth == 1 => keys += 1
            case _ =>
          }
          i += 1
        }
        keys
      }.toSeq.distinct
  }

  private def bag(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def offBag(df: => DataFrame): Seq[String] =
    withGraft("DedupJoinKeys" -> false)(bag(df))

  // fact: 60k rows; a==b except every 7th row; every 11th a is NULL
  private lazy val fact: DataFrame = spark.range(0, 60000).select(
    when(col("id") % 11 =!= 0, col("id") % 900).as("a"),
    when(col("id") % 7 === 0, (col("id") + 1) % 900)
      .otherwise(col("id") % 900).as("b"),
    col("id").as("payload"))
  // dim with DUPLICATE ids (two rows for every fourth key) + a NULL id
  private lazy val dim: DataFrame = spark.range(0, 900)
    .select(col("id").as("d_id"), lit("x").as("tag"))
    .unionAll(spark.range(0, 900).filter(col("id") % 4 === 0)
      .select(col("id").as("d_id"), lit("y").as("tag")))
    .unionAll(spark.range(0, 1).select(lit(null).cast("long").as("d_id"),
      lit("z").as("tag")))

  test("probe-side repeat [a,b]=[id,id]: narrows to 1 key, exact bag") {
    def df = fact.join(broadcast(dim),
        fact("a") === dim("d_id") && fact("b") === dim("d_id"), "inner")
      .select(col("payload"), col("tag"))
    assert(bhjKeyCounts(df) == Seq(1),
      df.queryExecution.executedPlan.toString)
    assert(bag(df) == offBag(df))
    assert(bag(df).nonEmpty) // non-degenerate: matches survive
  }

  test("build-side repeat [a,a]=[id1,id2]: filter lands under the broadcast") {
    // build rows where id1 != id2 must be dropped by the pushed filter
    val dim2 = spark.range(0, 900).select(
      col("id").as("id1"),
      when(col("id") % 5 === 0, col("id") + 1).otherwise(col("id")).as("id2"),
      concat(lit("t"), col("id")).as("tag2"))
    def df = fact.join(broadcast(dim2),
        fact("a") === dim2("id1") && fact("a") === dim2("id2"), "inner")
      .select(col("payload"), col("tag2"))
    assert(bhjKeyCounts(df) == Seq(1),
      df.queryExecution.executedPlan.toString)
    assert(bag(df) == offBag(df))
    assert(bag(df).nonEmpty)
  }

  test("NULL keys in the deduped column never match (either arm)") {
    // b NULL on every 13th row: the dedup moves b into a filter — a
    // NULL b must still eliminate the row exactly as the join key did
    val f = spark.range(0, 20000).select(
      (col("id") % 300).as("a"),
      when(col("id") % 13 =!= 0, col("id") % 300).as("b"),
      col("id").as("payload"))
    def df = f.join(broadcast(dim),
        f("a") === dim("d_id") && f("b") === dim("d_id"), "inner")
      .select(col("payload"), col("tag"))
    assert(bhjKeyCounts(df) == Seq(1))
    assert(bag(df) == offBag(df))
  }

  test("three-way repeat [a,b,b]=[id,id,id] over the JOB agg shape") {
    def df = fact.join(broadcast(dim),
        fact("a") === dim("d_id") && fact("b") === dim("d_id") &&
          fact("b") === dim("d_id"), "inner")
      .agg(count(lit(1)).as("n"), min(col("payload")).as("mn"),
        max(col("tag")).as("mx"))
    assert(bhjKeyCounts(df) == Seq(1))
    assert(bag(df) == offBag(df))
  }

  test("declines: distinct keys unchanged, outer joins untouched") {
    val dim2 = spark.range(0, 900).select(col("id").as("e_id"),
      (col("id") % 9).as("e2"), lit("w").as("tag3"))
    def distinctKeys = fact.join(broadcast(dim2),
        fact("a") === dim2("e_id") && fact("b") === dim2("e2"), "inner")
      .select(col("payload"), col("tag3"))
    assert(bhjKeyCounts(distinctKeys) == Seq(2))
    def outer = fact.join(broadcast(dim),
        fact("a") === dim("d_id") && fact("b") === dim("d_id"), "left")
      .select(col("payload"), col("tag"))
    assert(bhjKeyCounts(outer) == Seq(2))
    assert(bag(outer) == offBag(outer))
  }
}
