package graft.rules

import graft.GraftRule

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `LIKE '%a%b%'` (multi-segment, %-only wildcards) evaluates as a
  * sequential substring search instead of a compiled regex.
  *
  * Spark's `LikeSimplification` rewrites only the single-wildcard forms
  * (`a%`→StartsWith, `%a`→EndsWith, `%a%`→Contains); a pattern with TWO
  * or more inner segments stays a `Like`, which compiles the pattern to
  * a `java.util.regex` matcher and pays a full regex match per row.
  * TPC-H q13's `o_comment NOT LIKE '%special%requests%'` measured
  * 144.1 ms (LIKE) vs 86.3 ms (indexOf chain) on the warm x100 orders
  * fixture (`BenchABLike`, counts identical) — the regex is ~40% of the
  * scan wall. The reference engine's LIKE kernel does exactly this
  * segment walk (`src/function/scalar/string/like.cpp`).
  *
  * Greedy first-occurrence matching is exact for %-only patterns: if
  * any occurrence of segment k has the remaining segments after it,
  * the FIRST occurrence does too.
  *
  * Scope guards: pattern is a literal, default-collation string, starts
  * and ends with `%`, contains no `_` and no escape character, and has
  * ≥2 non-empty segments (single-segment forms are already Contains).
  * `spark.graft.disabled=FastLikeChain` disables (A/B + differential spec).
  */
object FastLikeChain extends GraftRule[LogicalPlan] {
  /** %-only multi-segment split; None = not this shape. */
  private[graft] def segments(pattern: String, escapeChar: Char): Option[Seq[String]] = {
    if (pattern.isEmpty || pattern.head != '%' || pattern.last != '%') return None
    if (pattern.contains('_') || pattern.contains(escapeChar)) return None
    val segs = pattern.split("%").filter(_.nonEmpty).toSeq
    if (segs.length >= 2) Some(segs) else None
  }

  protected def rewrite(plan: LogicalPlan): LogicalPlan = {
    plan.transformAllExpressions {
      case l @ Like(input, Literal(p: UTF8String, StringType), esc)
          if input.dataType == StringType =>
        segments(p.toString, esc) match {
          case Some(segs) =>
            ContainsChain(input, segs.map(UTF8String.fromString))
          case None => l
        }
    }
  }
}

/** Sequential first-occurrence substring chain — the `%s1%s2%...%`
  * matcher. Null input → null (LIKE semantics).
  */
case class ContainsChain(child: Expression, segs: Seq[UTF8String])
    extends UnaryExpression with Predicate {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "contains_chain"
  override def toString: String =
    s"$child CONTAINSCHAIN ${segs.mkString("%", "%", "%")}"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    var pos = 0
    var i = 0
    while (i < segs.length) {
      val idx = s.indexOf(segs(i), pos)
      if (idx < 0) return false
      pos = idx + segs(i).numChars()
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val segsRef = ctx.addReferenceObj("segs", segs.toArray,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c => {
      val pos = ctx.freshName("pos")
      val i = ctx.freshName("i")
      val idx = ctx.freshName("idx")
      s"""
        |int $pos = 0;
        |${ev.value} = true;
        |for (int $i = 0; $i < $segsRef.length; $i++) {
        |  int $idx = $c.indexOf($segsRef[$i], $pos);
        |  if ($idx < 0) { ${ev.value} = false; break; }
        |  $pos = $idx + $segsRef[$i].numChars();
        |}
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ContainsChain =
    copy(child = newChild)
}
