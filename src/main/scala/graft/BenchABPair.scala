package graft

import org.apache.spark.sql.SparkSession

/** Interleaved A/B of the packed partial's pair-key slot memo (dev
  * only): alternates plans.PackedAgg.pairKeysEnabled within one JVM over
  * the h2o 2-key group-by shapes (and 1-key/6-key controls the memo must
  * not touch), so VM phase drift cancels; reports per-query medians and
  * asserts both arms return identical results.
  *
  * Usage: SPARK_GRAFT_H2O_FACTOR=100 sbt "runMain graft.BenchABPair [h2o_gNN ...]"
  * GRAFT_H2O_DIR reuses an existing generated fixture dir.
  */
object BenchABPair {
  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_H2O_FACTOR", "100").toLong
    val spark = GraftSession.tune(SparkSession.builder()
        .master("local[32]")
        .config("spark.ui.enabled", "false"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = spark.sparkContext.parallelize(1 to 32, 32)
    (1 to 120).foreach(_ => probe.count())
    def probeMs(): Double = {
      val t = (1 to 40).map { _ =>
        val t0 = System.nanoTime(); probe.count(); (System.nanoTime() - t0) / 1e6
      }.sorted
      t(t.length / 2)
    }
    val names = if (args.nonEmpty) args.toSeq
      else Seq("h2o_g02", "h2o_g09", "h2o_g01", "h2o_g10")
    Tables.cacheMode = true
    if (names.exists(_.startsWith("h2o_"))) {
      val dir = sys.env.getOrElse("GRAFT_H2O_DIR",
        graft.sources.H2oFixture.ensureScaled(spark, factor))
      println(s"scaled_dir=$dir factor=$factor")
      graft.sources.H2oFixture.tables.foreach { t =>
        val view = if (t == "x") "h2o_x" else t
        Tables(spark, dir, t).createOrReplaceTempView(view)
      }
    }
    if (names.exists(_.startsWith("cb_"))) {
      val hitsFactor = sys.env.getOrElse("SPARK_GRAFT_HITS_FACTOR", "100").toLong
      val hdir = graft.sources.HitsFixture.ensureScaled(spark, hitsFactor)
      Tables(spark, hdir, "hits").createOrReplaceTempView("hits")
      spark.table("hits").count()
    }
    println(f"probe_job_ms_before=${probeMs()}%.1f")
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    val textMap = (queries.H2oBoard.texts ++ queries.ClickBench.texts).toMap
    def timed(sql: String): Double = {
      val t0 = System.nanoTime()
      spark.sql(sql).queryExecution.toRdd.count(): Unit
      (System.nanoTime() - t0) / 1e6
    }
    // one result fingerprint per arm, compared (count + xor of row hashes)
    def fingerprint(sql: String): (Long, Long) = {
      import org.apache.spark.sql.functions._
      val df = spark.sql(sql)
      val h = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).collect()(0)
      (h.getLong(0), h.getLong(1))
    }
    // knob under A/B: "pair" (default) = PackedAgg.pairKeysEnabled;
    // "bound" = BoundedKeyDriverAgg.maxBound GRAFT_AB_BOUND_HI vs default;
    // "pt" = PackedAgg.passThroughGroupRatio GRAFT_AB_PT vs default
    val knob = sys.env.getOrElse("GRAFT_AB_KNOB", "pair")
    val boundLo = graft.rules.BoundedKeyDriverAgg.maxBound
    val boundHi = sys.env.getOrElse("GRAFT_AB_BOUND_HI", "16384").toLong
    val ptLo = graft.plans.PackedAgg.passThroughGroupRatio
    val ptHi = sys.env.getOrElse("GRAFT_AB_PT", "0.6").toDouble
    def arm(on: Boolean): Unit = knob match {
      case "bound" =>
        graft.rules.BoundedKeyDriverAgg.maxBound = if (on) boundHi else boundLo
      case "pt" =>
        graft.plans.PackedAgg.passThroughGroupRatio = if (on) ptHi else ptLo
      case _ => graft.plans.PackedAgg.pairKeysEnabled = on
    }
    names.foreach { name =>
      val sql = textMap(name)
      System.gc()
      arm(true)
      val fpOn = fingerprint(sql)
      (1 to 2).foreach(_ => timed(sql))
      arm(false)
      val fpOff = fingerprint(sql)
      (1 to 2).foreach(_ => timed(sql))
      require(fpOn == fpOff, s"$name arm results differ: $fpOn vs $fpOff")
      val a = scala.collection.mutable.ArrayBuffer.empty[Double]
      val b = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to 7).foreach { _ =>
        arm(true)
        a += timed(sql)
        arm(false)
        b += timed(sql)
      }
      val am = med(a.toSeq); val bm = med(b.toSeq)
      println(f"$name%-8s on=${am}%7.1f ms  off=${bm}%7.1f ms  (${am / bm}%.3fx)  " +
        f"on=${a.map(t => f"$t%.0f").mkString(",")}  off=${b.map(t => f"$t%.0f").mkString(",")}")
    }
    arm(true)
    graft.plans.PackedAgg.pairKeysEnabled = true
    graft.rules.BoundedKeyDriverAgg.maxBound = boundLo
    graft.plans.PackedAgg.passThroughGroupRatio = ptLo
    println(f"probe_job_ms_after=${probeMs()}%.1f")
    spark.stop()
  }
}
