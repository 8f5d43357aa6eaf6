package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.RDDInfo

/** Per-layer report of a traced run: per-pass totals (median over the
  * traced passes), the per-query self-time table and the span file. */
object Layers {
  /** Graft exec nodes, so every node name prints even where a workload
    * never plans it; nodes listed in `withRows` register numOutputRows. */
  val ops: Seq[String] = Seq("CacheFilterExec", "CachedBroadcastExec", "DriverGroupAggExec",
    "FusedDistinctDriverExec", "FusedDistinctPartialExec", "IntChainJoinExec",
    "PackedFinalAggExec", "PackedPartialAggExec", "PartialTopNExec", "RadixFinalAggExec",
    "RadixPartialAggExec", "SessionCountExec", "SingleDistinctCombineExec",
    "SingleDistinctPartialExec", "SortedPrefixLimitExec", "SortedRunAggExec",
    "StreamingWindowExec", "StringBcastJoinExec")
  val withRows: Set[String] = Set("CacheFilterExec", "PackedFinalAggExec", "PackedPartialAggExec",
    "RadixFinalAggExec", "RadixPartialAggExec")

  def report(execs: Seq[(Int, TracedExec)], rec: Recorder, sampler: Sampler, cores: Int,
      passTimes: Seq[(Boolean, Double)], genS: Double, analyzeS: Double, cacheS: Double,
      storage: Array[RDDInfo], out: File): Seq[(String, Double)] = {
    val attr = execs.map { case (p, t) => (p, t, Attribution(t, rec, sampler)) }
    val byPass = attr.groupBy(_._1).values.toSeq

    def perPass(f: Seq[(Int, TracedExec, Attribution)] => Double): Double =
      PerfBench.median(byPass.map(f))
    def sumA(f: Attribution => Double) = perPass(_.map(x => f(x._3)).sum)
    def sumT(f: TaskRec => Double) = perPass(_.flatMap(_._3.tasks).map(f).sum)
    def sumE(f: TracedExec => Double) = perPass(_.map(x => f(x._2)).sum)

    val tracedPass = PerfBench.median(passTimes.filter(_._1).map(_._2))
    val untracedPass = PerfBench.median(passTimes.filterNot(_._1).map(_._2))

    // per-query medians over traced executions; the gap_* columns split
    // driver_gap_ms, and the tracker_* columns are Spark's
    // QueryPlanningTracker phase times for the final DataFrame, a
    // cross-check of the benchmark's own plan spans
    def col(k: String)(f: Attribution => Double) = k -> f
    val cols = Seq(col("wall_ms")(_.wall), col("analyze_ms")(_.analyze),
      col("optimize_ms")(_.optimize), col("physical_ms")(_.physical),
      col("driver_gap_ms")(_.driverGap)) ++
      Sampler.names.map(n => col(s"gap_${n}_ms")(_.gapLayers.getOrElse(n, 0.0))) ++ Seq(
      col("sched_idle_ms")(_.sched), col("exec_ms")(_.exec), col("collect_ms")(_.collectTail),
      col("unattributed_ms")(_.unattributed), col("graft_plan_ms")(_.graftPlan),
      col("jobs")(_.jobs.toDouble), col("stages")(_.stages.toDouble), col("tasks")(_.tasks.size.toDouble))
    val phases = Seq("analysis", "optimization", "planning")
    val table = attr.groupBy(_._2.query).toSeq.sortBy(_._1).map { case (q, xs) =>
      q -> ((("n" -> xs.size.toDouble) +: cols.map { case (k, f) => k -> PerfBench.median(xs.map(x => f(x._3))) }) ++
        phases.map(ph => s"tracker_${ph}_ms" -> PerfBench.median(xs.map(_._2.phases.getOrElse(ph, 0L).toDouble)))).toMap
    }
    val header = "n" +: cols.map(_._1) ++: phases.map(ph => s"tracker_${ph}_ms")
    val tsv = (("query" +: header).mkString("\t") +: table.map { case (q, v) =>
      (q +: header.map(k => f"${v(k)}%.2f")).mkString("\t") }).mkString("", "\n", "\n")
    PerfBench.write(new File(out, "layers.tsv"), tsv)

    val medianQuery = table.sortBy(_._2("wall_ms")).lift(table.size / 2)
    val medianUnattributed = medianQuery.map(q => q._2("unattributed_ms") / q._2("wall_ms"))
      .getOrElse(Double.NaN)

    PerfBench.write(new File(out, "spans.jsonl"), spans(execs.map(_._2), rec))

    val opMetrics = (ops ++ attr.flatMap(_._2.ops.keys).distinct.diff(ops)).flatMap { n =>
      val count = "op." + n + ".n" -> sumE(_.ops.get(n).map(_._1.toDouble).getOrElse(0.0))
      if (withRows(n)) Seq(count, "op." + n + ".rows" -> sumE(_.ops.get(n).map(_._2.toDouble).getOrElse(0.0)))
      else Seq(count)
    }

    Seq(
      "plan.analyze_ms" -> sumA(_.analyze),
      "plan.optimize_ms" -> sumA(_.optimize),
      "plan.physical_ms" -> sumA(_.physical),
      "plan.graft_rule_ms" -> sumE(_.ruleNs / 1e6),
      "plan.graft_rule_fires" -> sumE(_.ruleFires.toDouble),
      "plan.graft_sampled_ms" -> sumA(_.graftPlan),
      "sched.jobs" -> sumA(_.jobs.toDouble),
      "sched.stages" -> sumA(_.stages.toDouble),
      "sched.tasks" -> sumA(_.tasks.size.toDouble),
      "sched.delay_ms" -> sumT(_.delayMs.toDouble),
      "sched.driver_gap_ms" -> sumA(_.driverGap),
      "sched.submit_ms" -> sumA(_.gapLayers.getOrElse("submit", 0.0)),
      "driver.codegen_ms" -> sumA(_.gapLayers.getOrElse("codegen", 0.0)),
      "driver.setup_ms" -> sumA(_.gapLayers.getOrElse("setup", 0.0)),
      "driver.graft_ms" -> sumA(_.gapLayers.getOrElse("graft", 0.0)),
      "driver.bcast_ms" -> sumA(_.gapLayers.getOrElse("bcast", 0.0)),
      "driver.aqe_ms" -> sumA(_.gapLayers.getOrElse("aqe", 0.0)),
      "sched.idle_ms" -> sumA(_.sched),
      "exec.wall_ms" -> sumA(_.exec),
      "exec.run_ms" -> sumT(_.runMs.toDouble),
      "exec.cpu_ms" -> sumT(_.cpuNs / 1e6),
      "exec.gc_ms" -> sumT(_.gcMs.toDouble),
      "exec.deser_ms" -> sumT(_.deserMs.toDouble),
      "exec.busy_frac" -> perPass(xs =>
        xs.flatMap(_._3.tasks).map(_.runMs.toDouble).sum / (cores * math.max(1.0, xs.map(_._3.jobWall).sum))),
      "shuffle.write_bytes" -> sumT(_.shWriteBytes.toDouble),
      "shuffle.write_records" -> sumT(_.shWriteRecords.toDouble),
      "shuffle.write_ms" -> sumT(_.shWriteNs / 1e6),
      "shuffle.read_bytes" -> sumT(_.shReadBytes.toDouble),
      "shuffle.fetch_wait_ms" -> sumT(_.shFetchWaitMs.toDouble),
      "scan.input_bytes" -> sumT(_.inBytes.toDouble),
      "scan.input_records" -> sumT(_.inRecords.toDouble),
      "collect.rows" -> sumE(_.rows.toDouble),
      "collect.result_bytes" -> sumT(_.resultBytes.toDouble),
      "collect.ms" -> sumA(_.collectTail),
      "cache.build_ms" -> cacheS * 1000,
      "cache.bytes" -> storage.map(_.memSize.toDouble).sum,
      "cache.partitions" -> storage.map(_.numCachedPartitions.toDouble).sum,
      "sources.gen_ms" -> genS * 1000,
      "sources.analyze_ms" -> analyzeS * 1000,
      "unattributed_ms" -> sumA(_.unattributed),
      "unattributed_frac_median_query" -> medianUnattributed,
      "trace.pass_s" -> tracedPass,
      "trace.untraced_pass_s" -> untracedPass,
      "trace.overhead_frac" -> (tracedPass / untracedPass - 1)) ++ opMetrics
  }

  /** Spans as JSON lines: the benchmark's own query/plan/collect spans, and
    * job and stage spans from the listener parented by job group. */
  private def spans(execs: Seq[TracedExec], rec: Recorder): String = {
    def line(id: String, parent: String, name: String, start: Double, end: Double) =
      Json.obj("id" -> Json.str(id), "parent" -> Json.str(parent), "name" -> Json.str(name),
        "start_ms" -> Json.num(start), "end_ms" -> Json.num(end))
    val ids = execs.map(_.id).toSet
    val own = execs.flatMap(_.spans.map(s => line(s.id, s.parent,
      if (s.name == "query") s"query:${execs.find(_.id == s.id).get.query}" else s.name, s.start, s.end)))
    val jobs = rec.jobs.values.asScala.toSeq.filter(j => ids(j.group)).sortBy(_.id)
    val jobOfStage = jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val jobLines = jobs.map(j => line(s"job-${j.id}", j.group, "job", j.start.toDouble, j.end.toDouble))
    val stageLines = rec.stageSpans.asScala.toSeq.filter(s => ids(s._2)).map { case (st, _, a, b) =>
      line(s"stage-$st", jobOfStage.get(st).map(j => s"job-$j").getOrElse(""), "stage", a.toDouble, b.toDouble)
    }
    (own ++ jobLines ++ stageLines).mkString("", "\n", "\n")
  }
}
