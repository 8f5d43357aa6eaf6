package graft

import graft.functions.PrefixExtractKernel
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** rules/FastRegexpExtract + functions/PrefixExtract: the literal-prefix
  * regexp_extract fast path is byte-for-byte equivalent to
  * java.util.regex `find + group(1)` (randomized differential, overlap
  * and multi-byte cases), the compiler accepts exactly the supported
  * surface, and the planner rewrite fires end-to-end with unchanged
  * results.
  */
class FastRegexSpec extends AnyFunSuite {
  import SparkTestSession._

  test("compile accepts the supported surface") {
    assert(PrefixExtractKernel.compile("\"k\": ([0-9]+)").isDefined)
    assert(PrefixExtractKernel.compile("id=([a-zA-Z0-9_]+)").isDefined)
    assert(PrefixExtractKernel.compile("x\\.y([a-f]+)").isDefined)
    assert(PrefixExtractKernel.compile("v\\[2\\]=([0-9-]+)").isDefined)
  }

  test("compile rejects everything needing a real engine") {
    for (p <- Seq(
      "([0-9]+)",          // no prefix
      "k([^0-9]+)",        // negated class
      "k([0-9]*)",         // star (can match empty)
      "k([0-9]+)s",        // suffix after the group
      "k(\\d+)",           // class shorthand
      "k[0-9]+",           // no capture group
      "k([0-9]+",          // unterminated
      "k.v([0-9]+)",       // unescaped metachar in prefix
      "k([0-9]+|[a-z]+)",  // alternation
      "ké([0-9]+)",        // non-ASCII prefix
      "k([é]+)",           // non-ASCII class
      "k([a&&b]+)",        // '&&' = class intersection under java.util.regex
      "k([a&b]+)",         // lone '&' — conservatively rejected with it
      "k([a[]+)",          // unescaped '[' = nested class (PSE in Java)
      "k([a[b]]+)"))       // nested class body
      assert(PrefixExtractKernel.compile(p).isEmpty, p)
  }

  test("kernel ≡ java.util.regex on randomized input, overlaps and multi-byte included") {
    val patterns = Seq("\"k\": ([0-9]+)", "aa([0-9]+)", "id=([a-z0-9]+)")
    val rnd = new scala.util.Random(42)
    val pieces = Seq("\"k\": ", "aa", "id=", "a", "1", "23", "x", " ", "é", "漢",
      "\"k\":", "id", "=z9", "aa1", "a1a")
    for (p <- patterns) {
      val Some((pfx, cls)) = PrefixExtractKernel.compile(p)
      val jre = java.util.regex.Pattern.compile(p)
      for (_ <- 1 to 3000) {
        val s = (1 to rnd.nextInt(8)).map(_ => pieces(rnd.nextInt(pieces.size))).mkString
        val m = jre.matcher(s)
        val expect = if (m.find()) m.group(1) else ""
        val got = PrefixExtractKernel.extract(UTF8String.fromString(s), pfx, cls).toString
        assert(got == expect, s"pattern=$p input=<$s> got=<$got> expect=<$expect>")
      }
    }
  }

  test("planner rewrite fires and results match the stock expression") {
    spark.range(20000).selectExpr(
      """CASE WHEN id % 7 = 0 THEN NULL
        |     WHEN id % 5 = 0 THEN concat('{"k": ', id, '}')
        |     WHEN id % 3 = 0 THEN '{"k": }'
        |     ELSE 'no match here' END AS props""".stripMargin)
      .createOrReplaceTempView("fast_regex_t")
    def q() = spark.sql(
      """SELECT regexp_extract(props, '"k": ([0-9]+)', 1) AS k, count(*) AS c
        |FROM fast_regex_t GROUP BY k ORDER BY k""".stripMargin)
    val plan = q().queryExecution.optimizedPlan
    assert(plan.expressions.flatMap(_.collect {
      case e: graft.functions.LiteralPrefixExtract => e }).nonEmpty ||
      plan.collect { case n if n.expressions.exists(_.find {
        case _: graft.functions.LiteralPrefixExtract => true; case _ => false
      }.isDefined) => n }.nonEmpty, plan.toString.take(1500))
    val on = q().collect().toSeq
    val off = withGraft("FastRegexpExtract" -> false)(q().collect().toSeq)
    assert(on == off)
    assert(on.size > 2)
  }
}
