package graft.queries

import graft.Tables
import graft.functions.{GraftFunctions, StringFunctions, VectorFunctions}
import graft.operators.StatsOps
import org.apache.spark.sql.functions._

/** Custom-function coverage: vector distance, string similarity, and the
  * holistic aggregates Spark lacks (SURVEY.md §2.4/§2.8 gaps).
  */
object Extensions {

  val queries: Map[String, Q.Fn] = Map[String, Q.Fn](
    "vec_cosine_topk" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.cosine_similarity(col("embedding"), col("qvec"))
            .cast("double"), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(20)
    },

    "vec_inner_topk" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.inner_product(col("embedding"), col("qvec"))
            .cast("double"), 4).as("ip"))
        .orderBy(col("ip").desc, col("vec_id")).limit(20)
    },

    "vec_l2_topk" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.l2_distance(col("embedding"), col("qvec"))
            .cast("double"), 4).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(20)
    },

    "fn_string_similarity" -> { (s, d) =>
      Tables(s, d, "part").select(
          col("p_partkey"),
          round(StringFunctions.jaccard_sim(col("p_name"), lower(col("p_type"))), 6).as("jac"),
          round(StringFunctions.jaro_winkler(col("p_name"), lower(col("p_type"))), 6).as("jw"),
          StringFunctions.damerau_levenshtein(col("p_brand"), col("p_type")).as("dl"),
          StringFunctions.hamming(substring(col("p_name"), 1, 3),
            substring(lower(col("p_type")), 1, 3)).as("ham"))
        .orderBy(col("p_partkey")).limit(200)
    },

    "agg_product" -> { (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(round(GraftFunctions.product(lit(1.0) + col("l_tax")), 6).as("prod_tax"),
          count(lit(1)).as("n"))
        .orderBy(col("l_orderkey")).limit(200)
    },

    "agg_mad" -> { (s, d) =>
      val df = StatsOps.mad(Tables(s, d, "lineitem"), Seq("l_returnflag"),
        Seq("l_quantity" -> "mad_qty", "l_discount" -> "mad_disc"))
      df.select(col("l_returnflag"),
          round(col("mad_qty"), 6).as("mad_qty"), round(col("mad_disc"), 6).as("mad_disc"))
        .orderBy(col("l_returnflag"))
    },

    // at-scale MAD on approx_percentile sketches (O(accuracy) state per
    // group vs the exact path's O(group) buffer) — estimator-specific
    // values → rows-only gate; PipelineSpec asserts closeness to exact
    "agg_mad_approx" -> { (s, d) =>
      val df = StatsOps.madApprox(Tables(s, d, "lineitem"), Seq("l_returnflag"),
        Seq("l_quantity" -> "mad_qty", "l_discount" -> "mad_disc"))
      df.select(col("l_returnflag"),
          round(col("mad_qty"), 6).as("mad_qty"), round(col("mad_disc"), 6).as("mad_disc"))
        .orderBy(col("l_returnflag"))
    },

    "agg_entropy" -> { (s, d) =>
      StatsOps.entropy(Tables(s, d, "lineitem"), Seq("l_returnflag"), "l_linenumber", "ent")
        .select(col("l_returnflag"), round(col("ent"), 6).as("ent"))
        .orderBy(col("l_returnflag"))
    },

    "agg_histogram" -> { (s, d) =>
      StatsOps.histogramString(Tables(s, d, "lineitem"), Seq("l_returnflag"), "l_linenumber", "hist")
        .orderBy(col("l_returnflag"))
    },

    // equi-width binned histogram (reference's explicit-bin histogram):
    // fixed [0, 120000) in 8 bins over l_extendedprice
    "agg_histogram_binned" -> { (s, d) =>
      StatsOps.histogramEquiWidth(Tables(s, d, "lineitem"), Seq("l_returnflag"),
          "l_extendedprice", lo = 0.0, hi = 120000.0, nbins = 8, out = "hist")
        .orderBy(col("l_returnflag"))
    },

    // top-k most frequent values per group (reference: approx_top_k,
    // holistic/approx_top_k.cpp) — exact count+window rewrite, so the
    // oracle can verify it exactly
    "agg_top_k" -> { (s, d) =>
      val counts = Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linenumber"))
        .agg(count(lit(1)).as("c"))
      counts.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))
            .orderBy(col("c").desc, col("l_linenumber"))))
        .filter(col("rn") <= 3)
        .select(col("l_returnflag"), col("rn"), col("l_linenumber").as("v"), col("c"))
        .orderBy(col("l_returnflag"), col("rn"))
    },

    // bitstring_agg (reference: distributive/bitstring_agg.cpp): set bit
    // at each seen value position — emulated as a presence-mask string
    "agg_bitstring" -> { (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(collect_set(col("l_linenumber")).as("seen"))
        .select(col("l_returnflag"),
          concat_ws("", transform(sequence(lit(1), lit(10)),
            p => when(array_contains(col("seen"), p), "1").otherwise("0"))).as("bits"))
        .orderBy(col("l_returnflag"))
    },

    // Space-Saving sketch via TypedImperativeAggregate; within capacity
    // (distinct l_linenumber « 4k counters) the sketch is exact, so the
    // oracle verifies the same top-3 string
    "agg_approx_top_k" -> { (s, d) =>
      import graft.functions.ApproxTopKSketch.approx_top_k
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_top_k(col("l_linenumber"), 3).as("topk"))
        .orderBy(col("l_returnflag"))
    },

    // fused exact-distinct + HLL single-pass aggregate (the multi-sketch
    // buffer a native engine uses for count(DISTINCT a) + approx(b)) —
    // the approx member is estimator-specific → rows-only
    "agg_fused_distinct" -> { (s, d) =>
      import graft.functions.DistinctWithHll.distinct_with_hll
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(distinct_with_hll(col("l_partkey"), col("l_suppkey")).as("d"))
        .select(col("l_returnflag"), col("d.n_exact").as("n_parts"),
          col("d.approx").as("approx_supps"))
        .orderBy(col("l_returnflag"))
    },

    // the exact member of the fused aggregate, hard-gated on its own: the
    // deterministic n_exact side must hash-match count(DISTINCT …) — the
    // bench's centerpiece aggregate sits behind the oracle, not just a spec
    "agg_fused_distinct_exact" -> { (s, d) =>
      import graft.functions.DistinctWithHll.distinct_with_hll
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(distinct_with_hll(col("l_partkey"), col("l_suppkey")).as("d"))
        .select(col("l_returnflag"), col("d.n_exact").as("n_parts"))
        .orderBy(col("l_returnflag"))
    },

    // the bucketed two-level fused-distinct shape — the 10^8+-key scale
    // path: hash-bucket the exact key so each first-level reducer merges a
    // DISJOINT slice of the key space in parallel (exact counts add,
    // HLL registers union via HllUnion — byte-identical estimate, pinned
    // in MultiDistinctSpec). Gated on the exact side; measured crossover
    // vs the single-level shape recorded in PERF.md (an interleaved A/B)
    "agg_fused_distinct_bucketed" -> { (s, d) =>
      import graft.functions.DistinctWithHll.distinct_with_hll
      Tables(s, d, "lineitem")
        .groupBy(pmod(hash(col("l_partkey")), lit(32)).as("b"))
        .agg(distinct_with_hll(col("l_partkey"), col("l_suppkey")).as("d"))
        .agg(sum(col("d.n_exact")).as("n_parts"))
    },

    // the COLUMNAR fused-distinct operator (plans/FusedDistinct.scala):
    // batch-vectorized set+HLL updates straight off columnar batches, the
    // per-partition set split into disjoint key-hash bucket blobs, bucket
    // merge in parallel. The bench's distinct metric runs this shape;
    // its deterministic exact side is hash-gated here
    "agg_fused_distinct_columnar" -> { (s, d) =>
      graft.functions.DistinctWithHll
        .exactWithHll(Tables(s, d, "lineitem"), "l_partkey", "l_suppkey", 32,
          mode = "columnar") // always the operator path — that's what's gated
        .select(col("n_exact").cast("long").as("n_parts"))
    },

    // sketch-based quantiles — estimators differ across engines → rows-only
    "agg_approx_quantile" -> { (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile_approx(l_extendedprice, array(0.5, 0.9, 0.99), 1000)").as("q"))
        .select(col("l_returnflag"), col("q")(0).as("p50"), col("q")(1).as("p90"),
          col("q")(2).as("p99"))
        .orderBy(col("l_returnflag"))
    }
  )

  val oracle: Map[String, String] = Map(
    "agg_fused_distinct_exact" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_fused_distinct_bucketed" ->
      "SELECT count(DISTINCT l_partkey) AS n_parts FROM lineitem",

    "agg_fused_distinct_columnar" ->
      "SELECT count(DISTINCT l_partkey) AS n_parts FROM lineitem",

    "agg_histogram_binned" ->
      """SELECT l_returnflag,
        | string_agg(b || ':' || c, ',' ORDER BY b) AS hist
        |FROM (
        |  SELECT l_returnflag,
        |   CAST(least(7, greatest(0, floor(l_extendedprice / 15000))) AS INT) AS b,
        |   count(*) AS c
        |  FROM lineitem GROUP BY 1, 2) t
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "vec_cosine_topk" ->
      """SELECT e.vec_id,
        | round(CAST(list_cosine_similarity(e.embedding, q.embedding) AS DOUBLE), 4) AS cos_sim
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id=0) q
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,

    "vec_inner_topk" ->
      """SELECT e.vec_id,
        | round(CAST(list_inner_product(e.embedding, q.embedding) AS DOUBLE), 4) AS ip
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id=0) q
        |ORDER BY ip DESC, e.vec_id LIMIT 20""".stripMargin,

    "vec_l2_topk" ->
      """SELECT e.vec_id,
        | round(CAST(list_distance(e.embedding, q.embedding) AS DOUBLE), 4) AS dist
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id=0) q
        |ORDER BY dist, e.vec_id LIMIT 20""".stripMargin,

    "fn_string_similarity" ->
      """SELECT p_partkey,
        | round(jaccard(p_name, lower(p_type)), 6) AS jac,
        | round(jaro_winkler_similarity(p_name, lower(p_type)), 6) AS jw,
        | damerau_levenshtein(p_brand, p_type) AS dl,
        | hamming(substring(p_name, 1, 3), substring(lower(p_type), 1, 3)) AS ham
        |FROM part ORDER BY p_partkey LIMIT 200""".stripMargin,

    "agg_product" ->
      """SELECT l_orderkey, round(product(1 + l_tax), 6) AS prod_tax, count(*) AS n
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 200""".stripMargin,

    "agg_mad" ->
      """SELECT l_returnflag, round(mad(l_quantity), 6) AS mad_qty,
        | round(mad(l_discount), 6) AS mad_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_entropy" ->
      """SELECT l_returnflag, round(entropy(l_linenumber), 6) AS ent
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_bitstring" ->
      """SELECT l_returnflag, CAST(bitstring_agg(l_linenumber, 1, 10) AS VARCHAR) AS bits
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_approx_top_k" ->
      """SELECT l_returnflag,
        | string_agg(CAST(v AS VARCHAR) || ':' || CAST(c AS VARCHAR), ',' ORDER BY rn) AS topk
        |FROM (
        | SELECT l_returnflag, l_linenumber AS v, count(*) AS c,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY count(*) DESC, l_linenumber) AS rn
        | FROM lineitem GROUP BY 1, 2) t
        |WHERE rn <= 3 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_top_k" ->
      """SELECT l_returnflag, rn, v, c FROM (
        | SELECT l_returnflag, l_linenumber AS v, count(*) AS c,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY count(*) DESC, l_linenumber) AS rn
        | FROM lineitem GROUP BY 1, 2) t
        |WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin,

    "agg_histogram" ->
      """SELECT l_returnflag,
        | array_to_string(list_transform(list_sort(list(struct_pack(k := k, c := c))),
        |   x -> CAST(x.k AS VARCHAR) || ':' || CAST(x.c AS VARCHAR)), ',') AS hist
        |FROM (SELECT l_returnflag, l_linenumber AS k, count(*) AS c
        |      FROM lineitem GROUP BY 1, 2) t
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
