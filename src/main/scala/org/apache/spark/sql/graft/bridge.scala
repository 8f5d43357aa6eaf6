package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils). Spark 4 routes Column
  * through ColumnNode; this is the supported classic-mode conversion,
  * just access-restricted — so we expose it from inside the package.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Streams in the codec `spark.io.compression.codec` names — the one
    * `SparkPlan.executeCollect` compresses task results with;
    * `CompressionCodec` is `private[spark]`, hence the bridge.
    */
  def compressedOutput(out: java.io.OutputStream): java.io.OutputStream =
    org.apache.spark.io.CompressionCodec.createCodec(org.apache.spark.SparkEnv.get.conf)
      .compressedOutputStream(out)

  def compressedInput(in: java.io.InputStream): java.io.InputStream =
    org.apache.spark.io.CompressionCodec.createCodec(org.apache.spark.SparkEnv.get.conf)
      .compressedInputStream(in)

  /** DataFrame over an arbitrary (resolved) logical plan —
    * `classic.Dataset.ofRows` is `private[sql]`, hence the bridge.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Parse SQL text to its UNRESOLVED Catalyst logical plan (the AST the
    * parser emits, before analysis binds catalogs) — `sessionState` is
    * `private[sql]`, hence the bridge.
    */
  def parsePlan(spark: org.apache.spark.sql.SparkSession,
                text: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parsePlan(text)

  /** A DataFrame whose logical plan IS the cached `InMemoryRelation` of
    * `df` (which must already be cached + materialized), with the LOGICAL
    * `outputOrdering` field stripped.
    *
    * Stripping is the fix for a whole class of warm-mode crashes:
    * `InMemoryRelation.newInstance()` (run by analysis-time
    * `DeduplicateRelations` whenever one cached table appears twice in a
    * query — CTE reuse, self-joins, HAVING subqueries like TPC-H q11)
    * re-ids the output attributes but leaves `outputOrdering` pointing at
    * the old ids; the next canonicalization of that relation (e.g.
    * `semanticEquals` inside `ResolveAggregateFunctions`, still INSIDE the
    * analyzer where no injectable rule can intervene) dies in
    * `withOutput`'s AttributeMap lookup. The logical field is safe to
    * drop because the PHYSICAL `InMemoryTableScanExec` derives both
    * `outputPartitioning` and `outputOrdering` from the materialized
    * `cachedPlan` rebased through `updateAttribute` (verified against the
    * Spark 4.1 bytecode) — so sort-free/exchange-free warm plans are
    * unchanged, which `WarmPlanSpec` pins.
    */
  def cachedRelationDf(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.sql.DataFrame] = {
    val classicDf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = classicDf.sparkSession
    spark.sharedState.cacheManager.lookupCachedData(classicDf)
      .map { cd =>
        val rel = cd.cachedRepresentation
        val stripped =
          if (rel.outputOrdering.isEmpty) rel
          else {
            val s = rel.copy(outputOrdering = Nil)
            s.statsOfPlanToCache = rel.statsOfPlanToCache
            s
          }
        org.apache.spark.sql.classic.Dataset.ofRows(spark, stripped)
      }
  }
}
