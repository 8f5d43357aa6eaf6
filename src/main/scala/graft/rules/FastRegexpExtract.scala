package graft.rules

import graft.GraftRule
import graft.functions.{LiteralPrefixExtract, PrefixExtractKernel}

import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpExtract}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rewrite `regexp_extract(s, 'literal([class]+)', 1)` with a foldable
  * pattern to the byte-kernel fast path ([[LiteralPrefixExtract]]) —
  * the required-prefix optimization RE2 performs internally, done as a
  * planner rewrite because java.util.regex has no such pass. Patterns
  * outside [[PrefixExtractKernel.compile]]'s surface keep Spark's
  * expression unchanged.
  */
object FastRegexpExtract extends GraftRule[LogicalPlan] {
  protected def rewrite(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case e @ RegExpExtract(subject, Literal(p: UTF8String, StringType),
            Literal(1, IntegerType)) =>
        PrefixExtractKernel.compile(p.toString) match {
          case Some(_) => LiteralPrefixExtract(subject, p.toString)
          case None => e
        }
    }
}
