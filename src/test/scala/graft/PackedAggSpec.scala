package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** rules/PackedShuffleAgg + plans/PackedAgg: shuffled aggregation over
  * one long key, multiple keys or string keys runs as the packed-payload
  * plan, result-identical to Spark's partial→exchange→final across NULL
  * key components (incl. NULL vs empty string), NULL inputs, every
  * supported slot type, the flush (multi-blob merge) and pass-through
  * paths, the one-long-key `ORDER BY k LIMIT n` key prune, the
  * zero-aggregate DISTINCT form, and the PartialMerge buffer-mode level
  * of the distinct rewrite.
  * Aggregate inputs are small exact-in-double integers so the
  * differential compare is exact despite reordered FP addition.
  */
class PackedAggSpec extends AnyFunSuite {
  import SparkTestSession._

  private def data() = spark.range(50000).selectExpr(
    // long key with NULLs
    "CASE WHEN id % 97 = 0 THEN NULL ELSE id % 50 END AS k",
    // string key with NULLs AND empty strings (must stay distinct groups)
    "CASE WHEN id % 89 = 0 THEN NULL WHEN id % 7 = 0 THEN '' " +
      "ELSE concat('grp_', id % 40) END AS s",
    "CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id % 7 AS DOUBLE) END AS d",
    "CASE WHEN id % 11 = 0 THEN NULL ELSE id % 5 END AS l")

  private def query() = data().groupBy("k", "s").agg(
    count(lit(1)).as("n"), count(col("d")).as("nd"),
    sum(col("d")).as("sd"), sum(col("l")).as("sl"),
    avg(col("l")).as("al"),
    min(col("d")).as("mnd"), max(col("d")).as("mxd"),
    min(col("l")).as("mnl"), max(col("l")).as("mxl"))

  private def packedOff[A](f: => A): A = withGraft("PackedShuffleAgg" -> false)(f)

  test("(long, string) keys plan the packed aggregate, no HashAggregate pair") {
    withAqe(false) {
      val plan = query().queryExecution.executedPlan
      assert(plan.collect { case p: graft.plans.PackedFinalAggExec => p }.nonEmpty,
        plan.toString.take(2000))
      assert(plan.collect { case p: graft.plans.PackedPartialAggExec => p }.nonEmpty)
      assert(plan.collect { case h: HashAggregateExec => h }.isEmpty)
    }
  }

  test("results identical to the Spark plan, AQE on and off, NULL and '' key groups") {
    def run(): Seq[Row] = query()
      .orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first).collect().toSeq
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val on = run()
      val off = packedOff(run())
      assert(on.size > 50) // many (k, s) combos incl. null/empty-string rows
      assert(on == off, s"aqe=$aqe first diff: ${
        on.zip(off).find { case (a, b) => a != b }}")
    }
  }

  test("single string key (radix-unsupported) routes packed, results identical") {
    withAqe(false) {
      def q() = data().groupBy("s").agg(
        sum(col("l")).as("sl"), avg(col("d")).as("ad"), count(lit(1)).as("n"))
      assert(q().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
      val on = q().orderBy(col("s").asc_nulls_first).collect().toSeq
      val off = packedOff(q().orderBy(col("s").asc_nulls_first).collect().toSeq)
      assert(on == off)
    }
  }

  test("one dictionary-served string key: the entry slot memo survives map growth and flushes") {
    // 4000 distinct values per 10k-row cached batch: each batch's
    // dictionary holds them all, so the map grows past its initial 4096
    // slots inside a batch (the memo must drop the moved slots) and,
    // under flushGroups=8, every batch ends in a flush
    val t = spark.range(0, 40000, 1, 2).selectExpr(
      "CASE WHEN id % 997 = 0 THEN NULL ELSE concat('v', CAST(id * 7 % 4000 AS STRING)) END AS s",
      "id % 5 AS l").cache()
    t.count()
    try {
      withAqe(false) {
        def q() = t.groupBy("s").agg(sum(col("l")).as("sl"), count(lit(1)).as("n"))
          .orderBy(col("s").asc_nulls_first)
        val partials = q().queryExecution.executedPlan.collect {
          case p: graft.plans.PackedPartialAggExec => p }
        assert(partials.nonEmpty && partials.forall(_.columnarChild))
        val off = packedOff(q().collect().toSeq)
        assert(q().collect().toSeq == off)
        assert(withConf("spark.graft.agg.flushGroups" -> "8")(q().collect().toSeq) == off)
        assert(off.size == 4001)
      }
    } finally t.unpersist()
  }

  test("three keys incl. date/timestamp widen and convert back exactly") {
    withAqe(false) {
      val d = spark.range(30000).selectExpr(
        "date_add(DATE'2001-03-04', CAST(id % 100 AS INT)) AS dt",
        "timestamp_micros(1000000 * (id % 50)) AS ts",
        "CAST(id % 3 AS INT) AS i",
        "id % 9 AS v")
      def q() = d.groupBy("dt", "ts", "i")
        .agg(sum(col("v")).as("sv"), max(col("v")).as("mx"))
      assert(q().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
      val on = q().orderBy("dt", "ts", "i").collect().toSeq
      val off = packedOff(q().orderBy("dt", "ts", "i").collect().toSeq)
      assert(on.size == 300 && on == off) // keys correlated: id mod lcm(100,50,3)
    }
  }

  test("SELECT DISTINCT (zero-aggregate Final form) is packed and exact") {
    withAqe(false) {
      def q() = data().select("k", "s").distinct()
      assert(q().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
      val on = q().orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
        .collect().toSeq
      val off = packedOff(
        q().orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
          .collect().toSeq)
      assert(on == off)
    }
  }

  test("distinct rewrite: PartialMerge level runs packed in buffer mode") {
    // count(DISTINCT s) + ridealong aggs grouped by a long-unsupported
    // combo: the inner (k, s) dedup exchange is the packed target
    def q() = data().groupBy("s").agg(
      countDistinct(col("k")).as("ndk"),
      sum(col("d")).as("sd"), count(lit(1)).as("n"))
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val on = q().orderBy(col("s").asc_nulls_first).collect().toSeq
      val off = packedOff(q().orderBy(col("s").asc_nulls_first).collect().toSeq)
      assert(on == off, s"aqe=$aqe")
    }
    withAqe(false) {
      val plan = q().queryExecution.executedPlan
      assert(plan.collect {
        case p: graft.plans.PackedFinalAggExec if p.bufferMode => p }.nonEmpty,
        plan.toString.take(2000))
    }
  }

  test("flush path: multi-blob fragments merge to the same result") {
    withAqe(false) {
      val on = withConf("spark.graft.agg.flushGroups" -> "64")(query()
        .orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first).collect().toSeq)
      val off = packedOff(query()
        .orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first).collect().toSeq)
      assert(on == off)
    }
  }

  test("adaptive pass-through: no-reduction input switches mid-partition, results identical") {
    // near-unique composite keys so the 0.75 group/row ratio trips at the
    // lowered check point; mixed with the map-phase prefix the reducer
    // merges map blobs AND one-row pass-through fragments of the SAME
    // groups (each id value appears twice → real cross-fragment merges)
    withAqe(false) {
      def src() = spark.range(40000).selectExpr(
        "CAST(id % 20000 AS LONG) AS k",
        "CASE WHEN id % 37 = 0 THEN NULL ELSE concat('u_', id % 20000) END AS s",
        "CASE WHEN id % 13 = 0 THEN NULL ELSE id % 7 END AS v")
      def q() = src().groupBy("k", "s").agg(
        count(lit(1)).as("n"), sum(col("v")).as("sv"),
        avg(col("v")).as("av"), min(col("v")).as("mn"), max(col("v")).as("mx"))
      val on = withConf("spark.graft.agg.passThroughCheckRows" -> "256") {
        assert(q().queryExecution.executedPlan.collect {
          case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
        q().orderBy(col("k"), col("s").asc_nulls_first).collect().toSeq
      }
      val off = packedOff(
        q().orderBy(col("k"), col("s").asc_nulls_first).collect().toSeq)
      assert(on.size == off.size && on == off,
        s"sizes ${on.size}/${off.size}; first diff: ${
          on.zip(off).find { case (a, b) => a != b }}")
    }
  }

  test("ORDER BY aggregate LIMIT fuses a per-partition top-K into emission") {
    withAqe(false) {
      // total order (count desc, then keys) with heavy count ties — the
      // per-partition retention must agree with the unpruned plan
      def q() = data().groupBy("k", "s").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("k").asc_nulls_first, col("s").asc_nulls_first)
        .limit(7)
      val plan = q().queryExecution.executedPlan
      val fins = plan.collect { case p: graft.plans.PackedFinalAggExec => p }
      assert(fins.nonEmpty && fins.forall(_.topK.exists(_.limit == 7)),
        plan.toString.take(2000))
      val on = q().collect().toSeq
      val off = packedOff(q().collect().toSeq)
      assert(on == off)
    }
  }

  test("unsupported shapes keep Spark's aggregate") {
    withAqe(false) {
      // decimal sum — no slot encoding
      val dec = data().groupBy("k", "s")
        .agg(sum(col("d").cast("decimal(20,2)")).as("x"))
      assert(dec.queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.isEmpty)
      // a FILTER clause folds into the slot input and routes packed,
      // with the stock plan's rows
      def filt() = data().groupBy("k", "s")
        .agg(expr("sum(l) FILTER (WHERE d > 2)").as("x"))
        .orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
      assert(filt().queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
      assert(filt().collect().toSeq == packedOff(filt().collect().toSeq))
      // a single long key routes packed too
      val single = data().groupBy("k").agg(sum(col("l")).as("x"))
      assert(single.queryExecution.executedPlan.collect {
        case p: graft.plans.PackedFinalAggExec => p }.nonEmpty)
    }
  }

  // one long key: k in 0..999 plus a NULL group
  private def longData() = spark.range(50000).selectExpr(
    "CASE WHEN id % 97 = 0 THEN NULL ELSE id % 1000 END AS k",
    "CASE WHEN id % 13 = 0 THEN NULL ELSE CAST(id % 7 AS DOUBLE) END AS d",
    "CASE WHEN id % 11 = 0 THEN NULL ELSE id % 5 END AS l")

  private def longQuery() = longData().groupBy("k").agg(
    count(lit(1)).as("n"), count(col("d")).as("nd"),
    sum(col("d")).as("sd"), sum(col("l")).as("sl"),
    avg(col("l")).as("al"),
    min(col("d")).as("mnd"), max(col("d")).as("mxd"),
    min(col("l")).as("mnl"), max(col("l")).as("mxl"))

  private def packedFinals(plan: org.apache.spark.sql.execution.SparkPlan) =
    plan.collect { case p: graft.plans.PackedFinalAggExec => p }

  test("single long key plans the packed aggregate, no HashAggregate pair") {
    withAqe(false) {
      val plan = longQuery().queryExecution.executedPlan
      assert(packedFinals(plan).nonEmpty, plan.toString.take(2000))
      assert(plan.collect { case p: graft.plans.PackedPartialAggExec => p }.nonEmpty)
      assert(plan.collect { case h: HashAggregateExec => h }.isEmpty)
    }
  }

  test("single long key: rows equal Spark's, AQE on and off, incl. the NULL key group") {
    def run(): Seq[Row] =
      longQuery().orderBy(col("k").asc_nulls_first).collect().toSeq
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val on = run()
      val off = packedOff(run())
      assert(on.size == 1000 + 1) // 0..999 plus the NULL-key group
      assert(on == off, s"aqe=$aqe first diff: ${
        on.zip(off).find { case (a, b) => a != b }}")
    }
  }

  test("single long key: empty input yields no groups") {
    withAqe(false) {
      val q = longData().where("k < -1").groupBy("k").agg(sum(col("d")).as("sd"))
      assert(packedFinals(q.queryExecution.executedPlan).nonEmpty)
      assert(q.collect().isEmpty)
    }
  }

  test("FILTER, string-key and two-key shapes route packed; DISTINCT keeps Spark's") {
    withAqe(false) {
      // string key
      val sKey = spark.range(100).selectExpr("CAST(id % 3 AS STRING) AS s", "id")
        .groupBy("s").agg(sum(col("id")).as("x"))
      assert(packedFinals(sKey.queryExecution.executedPlan).nonEmpty)
      // DISTINCT aggregate: the distinct level stays a HashAggregate
      val dist = longData().groupBy("k").agg(countDistinct(col("l")).as("x"))
      assert(dist.queryExecution.executedPlan.collect {
        case h: HashAggregateExec if h.aggregateExpressions.exists(_.isDistinct) => h }.nonEmpty)
      // FILTER clause: folds into the slot input, with the stock plan's rows
      def filt() = longData().groupBy("k")
        .agg(expr("sum(l) FILTER (WHERE d > 2)").as("x"))
        .orderBy(col("k").asc_nulls_first)
      assert(packedFinals(filt().queryExecution.executedPlan).exists(_.keyAttrs.length == 1))
      assert(filt().collect().toSeq == packedOff(filt().collect().toSeq))
      // two grouping keys
      val two = longData().groupBy("k", "l").agg(sum(col("d")).as("x"))
      assert(packedFinals(two.queryExecution.executedPlan).exists(_.keyAttrs.length == 2))
    }
  }

  test("single-distinct plan: inner PartialMerge level on one long key runs packed") {
    // count(DISTINCT k) + ridealong aggs: Spark's rewrite plans
    // group-by-k partial → exchange → PartialMerge, which the rule
    // replaces in buffer mode. Distinct count + sums must survive the
    // disjoint-bucket repartitioning, NULL keys excluded from the count.
    def q() = longData().agg(
      countDistinct(col("k")).as("nd"),
      sum(col("d")).as("sd"), count(lit(1)).as("n"),
      avg(col("l")).as("al"), max(col("d")).as("mx"))
    // FuseSingleDistinct normally claims this ungrouped shape first;
    // disable it here so Spark's two-level distinct plan (the packed
    // rule's PartialMerge target, still the path for GROUPED single
    // distincts) stays exercised
    withGraft("FuseSingleDistinct" -> false) {
      for (aqe <- Seq(true, false)) withAqe(aqe) {
        val on = q().collect().toSeq
        val off = packedOff(q().collect().toSeq)
        assert(on == off, s"aqe=$aqe on=$on off=$off")
      }
      withAqe(false) {
        val plan = q().queryExecution.executedPlan
        assert(packedFinals(plan).exists(p => p.bufferMode && p.keyAttrs.length == 1),
          plan.toString.take(2000))
      }
    }
  }

  test("single date key and flush-path blobs merge correctly") {
    withAqe(false) {
      val d = spark.range(20000).selectExpr(
        "date_add(DATE'2000-01-01', CAST(id % 400 AS INT)) AS dt",
        "id % 9 AS v")
      def run(): Seq[Row] =
        d.groupBy("dt").agg(sum(col("v")).as("sv"), max(col("v")).as("mx"))
          .orderBy("dt").collect().toSeq
      val on = run()
      val off = packedOff(run())
      assert(on.size == 400 && on == off)
    }
  }

  /** The long key `k` (an expression over `id` < 24000, values below
    * 32768) as one key of every long-widenable type, NULL every 53rd
    * row; `cached` serves it from the columnar cache (batch-direct
    * partial for int/long/date/timestamp keys).
    */
  private def typedKeys(k: String, cached: Boolean) = {
    def nul(e: String) = s"CASE WHEN id % 53 = 0 THEN NULL ELSE $e END"
    val df = spark.range(24000).selectExpr(
      nul(s"CAST(($k) % 120 AS BYTE)") + " AS kb",
      nul(s"CAST($k AS SHORT)") + " AS ks",
      nul(s"CAST($k AS INT)") + " AS ki",
      nul(k) + " AS kl",
      nul(s"date_add(DATE'1999-12-30', CAST($k AS INT))") + " AS kd",
      nul(s"timestamp_micros(7000000 * ($k))") + " AS kt",
      "CASE WHEN id % 13 = 0 THEN NULL ELSE id % 9 END AS v")
    if (!cached) df
    else { val c = df.repartition(4).cache(); c.count(); c }
  }

  test("single long key, flushGroups=8: byte..timestamp keys with NULLs equal stock") {
    for (cached <- Seq(false, true)) {
      val t = typedKeys("id % 3000", cached)
      try {
        for (key <- Seq("kb", "ks", "ki", "kl", "kd", "kt"); aqe <- Seq(false, true)) withAqe(aqe) {
          def q() = t.groupBy(key).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            min(col("v")).as("mn"), avg(col("v")).as("av"))
          val on = withConf("spark.graft.agg.flushGroups" -> "8") {
            if (!aqe) assert(packedFinals(q().queryExecution.executedPlan).nonEmpty, key)
            q().orderBy(col(key).asc_nulls_first).collect().toSeq
          }
          val off = packedOff(q().orderBy(col(key).asc_nulls_first).collect().toSeq)
          assert(on == off, s"key=$key cached=$cached aqe=$aqe first diff: ${
            on.zip(off).find { case (a, b) => a != b }}")
        }
      } finally if (cached) t.unpersist()
    }
  }

  test("single long key: near-unique rows under a low passThroughCheckRows equal stock") {
    // every key value twice, near-unique per partition: the 0.75
    // group/row ratio would trip at the lowered check point, but a lone
    // long key never passes through, so every row takes the map (the
    // uncached range's partitions hold a key's two rows in opposite
    // order, 0..5999 vs 5999..0, so the reducer merges across maps)
    for (cached <- Seq(false, true)) {
      val t = typedKeys("CASE WHEN id < 12000 THEN id ELSE 23999 - id END", cached)
      try withAqe(false) {
        for (key <- Seq("ks", "ki", "kl", "kt")) {
          def q() = t.groupBy(key).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            max(col("v")).as("mx"))
          val on = withConf("spark.graft.agg.passThroughCheckRows" -> "256") {
            q().orderBy(col(key).asc_nulls_first).collect().toSeq
          }
          val off = packedOff(q().orderBy(col(key).asc_nulls_first).collect().toSeq)
          assert(on.size == off.size && on == off, s"key=$key cached=$cached first diff: ${
            on.zip(off).find { case (a, b) => a != b }}")
        }
      } finally if (cached) t.unpersist()
    }
  }

  test("single long key ORDER BY k LIMIT: key prune, asc/desc, NULLS FIRST/LAST, AQE") {
    // 20,001 groups (incl. NULL) over 60,000 rows: each partition holds
    // far more than 2×limit keys, so the live prune and the early reject
    // run; flushGroups=8 exercises the emit-time cut of tiny maps
    val base = spark.range(60000).selectExpr(
      "CASE WHEN id % 997 = 0 THEN NULL ELSE CAST(id % 20000 AS INT) END AS k",
      "CASE WHEN id % 13 = 0 THEN NULL ELSE id % 7 END AS v")
    val cached = base.repartition(4).cache()
    cached.count()
    try {
      for ((src, t) <- Seq("rows" -> base, "cache" -> cached);
           order <- Seq("ASC NULLS FIRST", "ASC NULLS LAST", "DESC NULLS FIRST", "DESC NULLS LAST");
           flush <- Seq("2097152", "8"); aqe <- Seq(false, true)) withAqe(aqe) {
        t.createOrReplaceTempView("packed_topn")
        def q() = spark.sql(s"SELECT k, sum(v) AS s, count(*) AS n FROM packed_topn " +
          s"GROUP BY k ORDER BY k $order LIMIT 137")
        val on = withConf("spark.graft.agg.flushGroups" -> flush) {
          if (!aqe) {
            val plan = q().queryExecution.executedPlan
            val parts = plan.collect { case p: graft.plans.PackedPartialAggExec => p }
            assert(parts.nonEmpty && parts.forall(_.topN.isDefined), plan.toString.take(2000))
          }
          q().collect().toSeq
        }
        val off = withGraft("PackedShuffleAgg" -> false, "TopNThroughAgg" -> false)(q().collect().toSeq)
        assert(on.size == 137 && on == off, s"$src $order flush=$flush aqe=$aqe first diff: ${
          on.zip(off).find { case (a, b) => a != b }}")
      }
    } finally cached.unpersist()
  }

  test("columnar cache scan feeds the packed partial batch-direct") {
    withAqe(false) {
      val t = data()
      t.createOrReplaceTempView("packed_src")
      spark.sql("CACHE TABLE packed_cache AS SELECT * FROM packed_src")
      try {
        def q() = spark.table("packed_cache").groupBy("k", "s")
          .agg(sum(col("l")).as("sl"), count(lit(1)).as("n"))
        val partials = q().queryExecution.executedPlan.collect {
          case p: graft.plans.PackedPartialAggExec => p }
        assert(partials.nonEmpty)
        assert(partials.forall(_.columnarChild),
          q().queryExecution.executedPlan.toString.take(2000))
        val on = q().orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
          .collect().toSeq
        val off = packedOff(
          q().orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
            .collect().toSeq)
        assert(on == off)
      } finally spark.sql("UNCACHE TABLE packed_cache")
    }
  }

  test("cache filter folds into the batch-direct packed partial; dict keys equivalent") {
    withAqe(false) {
      val t = data()
      t.createOrReplaceTempView("packed_src2")
      spark.sql("CACHE TABLE packed_cache2 AS SELECT * FROM packed_src2")
      try {
        def q() = spark.table("packed_cache2")
          .filter("s IS NOT NULL AND s <> ''")
          .groupBy("k", "s")
          .agg(sum(col("l")).as("sl"), count(lit(1)).as("n"))
          .orderBy(col("k").asc_nulls_first, col("s").asc_nulls_first)
        val partials = q().queryExecution.executedPlan.collect {
          case p: graft.plans.PackedPartialAggExec => p }
        assert(partials.nonEmpty && partials.forall(p =>
          p.columnarChild && p.selection.nonEmpty),
          q().queryExecution.executedPlan.toString.take(2000))
        val folded = q().collect().toSeq
        // fold off: row-path packed through the CacheFilter iterator
        val unfolded = withGraft("PackedAgg.selectionFold" -> false)(q().collect().toSeq)
        // dict-id keys off: per-row string hashing in the batch loop
        val noDict = withGraft("PackedAgg.dictKeys" -> false)(q().collect().toSeq)
        val stock = packedOff(q().collect().toSeq)
        assert(folded == stock)
        assert(unfolded == stock)
        assert(noDict == stock)
      } finally spark.sql("UNCACHE TABLE packed_cache2")
    }
  }

  test("direct single-string-key driver agg arm equals the probe arm") {
    withAqe(false) {
      // ndv metadata (normally attached by the Tables stats pass) so
      // BoundedKeyDriverAgg can prove the key domain
      val t = data().withMetadata("s",
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("graft.ndvBound", 64L).build())
      t.createOrReplaceTempView("direct_src")
      spark.sql("CACHE TABLE direct_cache AS SELECT * FROM direct_src")
      try {
        // single string key with NULL and '' groups → bounded driver agg
        def q() = spark.sql(
          """SELECT s, count(*) AS n, sum(l) AS sl FROM direct_cache
            |GROUP BY s ORDER BY s NULLS FIRST""".stripMargin)
        assert(q().queryExecution.executedPlan.collect {
          case d: graft.plans.DriverGroupAggExec => d }.nonEmpty)
        val routed = q().collect().toSeq
        val stock = withGraft("BoundedKeyDriverAgg" -> false)(q().collect().toSeq)
        assert(routed == stock)
      } finally spark.sql("UNCACHE TABLE direct_cache")
    }
  }
}
