package graft

import graft.plans.StringBcastJoinExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The vectorized string-key broadcast inner join: differential vs the
  * stock BroadcastHashJoin over every probe arm (dictionary-encoded
  * cache batches, blob-spilled high-cardinality batches, bare parquet
  * vectors), with duplicate build keys, NULLs both sides, and an empty
  * build side.
  */
class StringBcastJoinSpec extends AnyFunSuite {
  import SparkTestSession._

  // string-match the rendered plan: AdaptiveSparkPlanExec hides its
  // inner plan from collect()
  private def fired(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("StringBcastJoin")

  private def offRows(df: => DataFrame): Set[String] = withGraft("StringBcastJoinRule" -> false)(
    df.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toString))

  // probe: 40k rows over a 300-key string domain (dict-encodes per
  // batch) + some NULL keys; build: 300 keys with DUPLICATES + a NULL
  private lazy val probe: DataFrame = spark.range(0, 40000)
    .select(
      when(col("id") % 53 =!= 0, concat(lit("key"), col("id") % 300)).as("k"),
      col("id").as("pv"))
  private lazy val build: DataFrame = spark.range(0, 450)
    .select(
      when(col("id") % 90 =!= 0, concat(lit("key"), col("id") % 300)).as("k"),
      (col("id") * 10).as("bv"))

  private def joined(p: DataFrame, b: DataFrame): DataFrame =
    p.join(broadcast(b), p("k") === b("k"), "inner")
      .select(p("k").as("pk"), col("pv"), col("bv"))

  test("dictionary-encoded cache probe: exact rows, exec fires") {
    val pc = probe.cache(); pc.count()
    try {
      val df = joined(pc, build)
      assert(fired(df), df.queryExecution.executedPlan.toString)
      assert(df.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toString) ==
        offRows(joined(pc, build)))
    } finally pc.unpersist()
  }

  test("blob-spilled probe (cardinality above the dict valve): exact rows") {
    // > 4096 distinct per batch forces BlobStore
    val hi = spark.range(0, 30000)
      .select(concat(lit("u"), col("id") % 20000).as("k"), col("id").as("pv"))
      .cache()
    hi.count()
    val hiBuild = spark.range(0, 2000)
      .select(concat(lit("u"), col("id") * 7 % 20000).as("k"), col("id").as("bv"))
    try {
      val df = joined(hi, hiBuild)
      assert(fired(df))
      assert(df.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toString) ==
        offRows(joined(hi, hiBuild)))
    } finally hi.unpersist()
  }

  test("parquet probe (no cache): exact rows through the generic arm") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sbj_${
      java.util.UUID.randomUUID().toString.take(8)}"
    probe.write.mode("overwrite").parquet(dir)
    val pq = spark.read.parquet(dir)
    def q = pq.join(broadcast(build), pq("k") === build("k"), "inner")
      .select(pq("k").as("pk"), col("pv"), col("bv"))
    assert(fired(q))
    assert(q.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toString) == offRows(q))
  }

  test("empty build side: zero rows, no error") {
    val pc = probe.cache(); pc.count()
    try {
      val none = build.filter(col("bv") < 0)
      val df = joined(pc, none)
      assert(fired(df))
      assert(df.count() == 0)
    } finally pc.unpersist()
  }

  test("one broadcast, two key ordinals: executor cache keys on (id, keyOrd)") {
    // ReuseExchange can share one IdentityBroadcastMode exchange between
    // two joins keyed on DIFFERENT columns of the same build child — the
    // table cache must not hand the second join a table hashed on the
    // wrong ordinal (r14 ADVICE high).
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
      StringType, StringType))
    val rows: Array[InternalRow] = (0 until 10).map { i =>
      proj(InternalRow(
        UTF8String.fromString(s"a$i"), UTF8String.fromString(s"b$i"))).copy()
        .asInstanceOf[InternalRow]
    }.toArray
    val bc = spark.sparkContext.broadcast(rows)
    val t0 = graft.plans.StringBcastJoin.tableFor(bc, 0)
    val t1 = graft.plans.StringBcastJoin.tableFor(bc, 1)
    assert(t0 ne t1)
    assert(t0.lookupUtf8(UTF8String.fromString("a3")) >= 0)
    assert(t0.lookupUtf8(UTF8String.fromString("b3")) == -1)
    assert(t1.lookupUtf8(UTF8String.fromString("b3")) >= 0)
    assert(t1.lookupUtf8(UTF8String.fromString("a3")) == -1)
    // memoized per ordinal
    assert(graft.plans.StringBcastJoin.tableFor(bc, 0) eq t0)
    assert(graft.plans.StringBcastJoin.tableFor(bc, 1) eq t1)
  }

  test("two joins over one build side on different key columns: exact rows") {
    val twoKey = spark.range(0, 300).select(
      concat(lit("key"), col("id")).as("k1"),
      concat(lit("alt"), col("id")).as("k2"),
      (col("id") * 10).as("bv"))
    val probeAlt = spark.range(0, 40000)
      .select(concat(lit("alt"), col("id") % 300).as("k"), col("id").as("pv"))
    def q: DataFrame = {
      val a = probe.join(broadcast(twoKey), probe("k") === twoKey("k1"), "inner")
        .select(col("pv"), col("bv"))
      val b = probeAlt.join(broadcast(twoKey), probeAlt("k") === twoKey("k2"), "inner")
        .select(col("pv"), col("bv"))
      a.unionAll(b)
    }
    val pc = probe.cache(); pc.count()
    try {
      assert(q.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toString) ==
        offRows(q))
    } finally pc.unpersist()
  }

  test("declines: non-string keys, outer joins, extra condition") {
    val pi = spark.range(100).select(col("id").as("k"), col("id").as("pv")).cache()
    pi.count()
    val bi = spark.range(50).select(col("id").as("k"), col("id").as("bv"))
    try {
      assert(!fired(pi.join(broadcast(bi), pi("k") === bi("k"), "inner")
        .select(col("pv"), col("bv"))))
    } finally pi.unpersist()
    val pc = probe.cache(); pc.count()
    try {
      assert(!fired(pc.join(broadcast(build), pc("k") === build("k"), "left")
        .select(col("pv"), col("bv"))))
      assert(!fired(pc.join(broadcast(build),
        pc("k") === build("k") && col("pv") > col("bv"), "inner")
        .select(col("pv"), col("bv"))))
    } finally pc.unpersist()
  }
}
