package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Benchmark process for one workload run.
  *
  * Closed loop, one client: queries run back to back on one local session,
  * each timed from submission (SQL text or DataFrame builder) to rows on
  * the driver, planning included. The seed permutes the query order of
  * every pass. Results go to `<out>/result.json`; the first result of every
  * query goes to `<out>/rows/` for the DuckDB comparison made by `run.py`.
  *
  * Usage: PerfBench --workload W --seed N --passes P --trace 0|1 --out DIR
  *   [--data DIR] [--factor F] [--warmups W]
  *
  * `--data` names already generated tables (required for headline); the
  * fixture workloads generate theirs when it is absent. `--warmups`
  * untimed passes follow the cache build or ANALYZE (JIT, codegen).
  */
object PerfBench {
  private def arg(args: Array[String], k: String, default: String): String = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  def main(args: Array[String]): Unit = {
    val workloadName = arg(args, "--workload", "")
    val seed = arg(args, "--seed", "1").toLong
    val passes = arg(args, "--passes", "4").toInt
    val traced = arg(args, "--trace", "0") == "1"
    val out = new File(arg(args, "--out", "."))
    val warmups = arg(args, "--warmups", "1").toInt
    val cores = Runtime.getRuntime.availableProcessors()
    val scratch = new File(out, "scratch").getAbsolutePath
    val w = Workloads(workloadName, arg(args, "--data", ""), arg(args, "--factor", "1").toLong)

    // ---- set-up: session, fixture generation, cache build or ANALYZE, warm-up
    val t0 = System.nanoTime()
    val spark = Workloads.session(w, cores, scratch)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)
    val probeBefore = probeMs(spark, cores)
    val genS = timed(w.generate(spark))
    val loadS = timed(w.load(spark))
    val storage = spark.sparkContext.getRDDStorageInfo
    val queries = w.queries
    val warmS = timed((1 to warmups).foreach(_ => queries.foreach(q => q.build(spark).collect())))
    val setupS = sessionS + genS + loadS + warmS

    // ---- measured passes
    val recorder = new Recorder
    val lat = mutable.LinkedHashMap(queries.map(q => q.name -> mutable.ArrayBuffer.empty[Double]): _*)
    val failed = mutable.Map.empty[String, Int].withDefaultValue(0)
    val first = mutable.Map.empty[String, Array[Row]]
    val passTimes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val tracedExecs = mutable.ArrayBuffer.empty[(Int, TracedExec)]
    val sc = spark.sparkContext
    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
    // 4 ms: a driver gap of 20-80 ms per query gets 5-20 samples per
    // execution, at a fraction of the cost of millisecond sampling
    val sampler = new Sampler(Thread.currentThread(), () => now(), periodMs = 4.0)
    if (traced) sampler.start()

    for (p <- 0 until passes) {
      // a traced run interleaves untraced and traced passes (ABBA order),
      // so the two pass times differ by the tracing, not by JIT warm-up
      val tracePass = traced && (p % 4 == 1 || p % 4 == 2)
      if (tracePass) sc.addSparkListener(recorder)
      val order = new Random(seed * 1000003L + p).shuffle(queries)
      var passMs = 0.0
      order.zipWithIndex.foreach { case (q, i) =>
        val id = s"perfbench-$p-$i"
        sc.setJobGroup(id, q.name, interruptOnCancel = false)
        if (tracePass) RuleExecutor.resetMetrics()
        try {
          sampler.armed = tracePass
          val a = now()
          val df = q.build(spark)
          val b = now()
          df.queryExecution.optimizedPlan
          val c = now()
          df.queryExecution.executedPlan
          val d = now()
          val rows = df.collect()
          val e = now()
          sampler.armed = false
          lat(q.name) += e - a
          passMs += e - a
          if (!sameRows(first.getOrElseUpdate(q.name, rows), rows)) failed(q.name) += 1
          if (tracePass) {
            val (ruleNs, fires) = Trace.graftRules()
            val spans = Seq(Span(id, "", "query", a, e), Span(s"$id.a", id, "plan.analyze", a, b),
              Span(s"$id.o", id, "plan.optimize", b, c), Span(s"$id.p", id, "plan.physical", c, d),
              Span(s"$id.c", id, "collect", d, e))
            val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }
            tracedExecs += ((p, TracedExec(q.name, id, spans, rows.length.toLong, ruleNs, fires,
              Trace.graftOps(df.queryExecution.executedPlan), phases)))
            val planFile = new File(out, s"plans/${q.name}.txt")
            if (!planFile.exists()) write(planFile, df.queryExecution.executedPlan.toString)
          }
        } catch {
          case ex: Exception =>
            failed(q.name) += 1
            System.err.println(s"[perfbench] ${q.name} failed: ${ex.getClass.getName}: ${ex.getMessage}")
        } finally {
          sampler.armed = false
          sc.clearJobGroup()
        }
      }
      if (tracePass) {
        recorder.drain(sc, s"perfbench-drain-$p")
        sc.removeSparkListener(recorder)
      }
      passTimes += ((tracePass, passMs / 1000.0))
    }
    if (traced) sampler.finish()
    val probeAfter = probeMs(spark, cores)
    val cacheMb = cachedMb(spark)
    val otherStorageMb = storageMb(spark) - cacheMb

    // ---- end-to-end metrics (a traced run reports per-layer metrics instead)
    val untracedPasses = passTimes.filterNot(_._1).map(_._2).toSeq
    val perQuery: Seq[(String, Seq[Double])] = lat.toSeq.map { case (k, v) => k -> v.toSeq }
    val medians = perQuery.filter(_._2.nonEmpty).map { case (k, v) => k -> median(v) }
    val geomean = math.exp(medians.map(m => math.log(m._2)).sum / math.max(1, medians.size))
    val pooled = perQuery.flatMap(_._2).sorted
    val (tailPct, tailMs) = tail(pooled)
    val attempted = passes * queries.size
    val metrics = Seq(
      "pass_s" -> median(untracedPasses),
      "query_geomean_ms" -> geomean,
      "query_tail_ms" -> tailMs,
      "setup_s" -> setupS,
      "cache_mb" -> cacheMb)

    val layers = if (traced) Layers.report(tracedExecs.toSeq, recorder, sampler, cores, passTimes.toSeq,
      genS, if (w.loadIsAnalyze) loadS else 0.0, if (w.loadIsAnalyze) 0.0 else loadS,
      storage, out) else Nil

    // ---- rows and oracle texts for the DuckDB comparison
    val rowsDir = new File(out, "rows")
    rowsDir.mkdirs()
    first.foreach { case (name, rows) => write(new File(rowsDir, s"$name.json"), Json.rows(rows)) }
    val oracle = Json.obj(
      "views" -> Json.obj(w.views.map { case (k, v) => k -> Json.str(v) }: _*),
      "queries" -> Json.arr(w.oracle.map(o => Json.obj("name" -> Json.str(o.name),
        "sql" -> Json.str(o.sql), "approx_cols" -> Json.arr(o.approxCols.map(i => i.toString))))))
    write(new File(out, "oracle.json"), oracle)

    val result = Json.obj(
      "workload" -> Json.str(w.name), "data_dir" -> Json.str(w.dataDir), "seed" -> seed.toString, "cores" -> cores.toString,
      "passes" -> passes.toString, "traced" -> traced.toString,
      "attempted" -> attempted.toString,
      "failed_by_query" -> Json.obj(queries.map(q => q.name -> failed(q.name).toString): _*),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }: _*),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }: _*),
      "tail" -> Json.obj("percentile" -> Json.num(tailPct), "samples" -> pooled.size.toString,
        "beyond" -> Json.num(math.floor(pooled.size * (1 - tailPct / 100)))),
      "setup" -> Json.obj("session_s" -> Json.num(sessionS), "gen_s" -> Json.num(genS),
        "load_s" -> Json.num(loadS), "warmup_s" -> Json.num(warmS)),
      "pass_s" -> Json.arr(passTimes.map { case (t, s) => Json.obj("traced" -> t.toString, "s" -> Json.num(s)) }.toSeq),
      "query_median_ms" -> Json.obj(medians.map { case (k, v) => k -> Json.num(v) }: _*),
      "other_storage_mb" -> Json.num(otherStorageMb),
      "probe_job_ms" -> Json.obj("before" -> Json.num(probeBefore), "after" -> Json.num(probeAfter),
        "tasks" -> cores.toString))
    write(new File(out, "result.json"), result)
    spark.stop()
  }

  /** Highest pooled percentile with at least ten executions beyond it. */
  def tail(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.size
    val pct = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
    val idx = math.min(n - 1, math.max(0, math.ceil(pct / 100 * n).toInt - 1))
    (pct, if (n == 0) Double.NaN else sorted(idx))
  }

  /** Same rows as the first execution: fast ordered check, then the exact
    * comparison of the two sorted row lists. */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    (a eq b) || a.sameElements(b) ||
      (a.length == b.length && a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))

  /** Median per-job latency of a one-wave job of `cores` tasks (context only). */
  def probeMs(spark: SparkSession, cores: Int): Double = {
    val rdd = spark.sparkContext.parallelize(1 to cores, cores)
    (1 to 10).foreach(_ => rdd.count())
    median((1 to 20).map(_ => timed(rdd.count()) * 1000))
  }

  /** Memory and disk held by cached tables (cached RDD blocks), MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Storage memory in use (cached tables, broadcast blocks not yet
    * cleaned up and any other block), MB. Context only: what it holds
    * depends on when the context cleaner last ran. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed(f: => Unit): Double = { val t = System.nanoTime(); f; secondsSince(t) }
  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, StandardCharsets.UTF_8)
    try w.write(s) finally w.close()
  }
}

/** Minimal JSON writer: values are pre-rendered JSON fragments. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  /** One result value: numbers stay numbers; timestamps become epoch
    * microseconds and decimals strings, tagged so the reader can tell. */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => if (x.isNaN || x.isInfinite) str(x.toString) else x.toDouble.toString
    case x: Double => if (x.isNaN || x.isInfinite) str(x.toString) else x.toString
    case x: java.math.BigDecimal => obj("dec" -> str(x.toPlainString))
    case x: scala.math.BigDecimal => obj("dec" -> str(x.bigDecimal.toPlainString))
    case t: java.sql.Timestamp =>
      obj("ts" -> (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString)
    case t: java.time.Instant => obj("ts" -> (t.getEpochSecond * 1000000L + t.getNano / 1000).toString)
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => obj("date" -> str(d.toLocalDate.toString))
    case d: java.time.LocalDate => obj("date" -> str(d.toString))
    case s: String => str(s)
    case other => str(other.toString)
  }

  def rows(rs: Array[Row]): String =
    rs.map(r => (0 until r.length).map(i => value(r.get(i))).mkString("[", ",", "]")).mkString("[\n", ",\n", "\n]")
}
