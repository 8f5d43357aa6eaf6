package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** A closed interval in epoch milliseconds. */
final case class Span(id: String, parent: String, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

final case class JobRec(id: Int, group: String, start: Long, stages: Seq[Int]) {
  @volatile var end: Long = -1L
}

final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, deserMs: Long, delayMs: Long, resultBytes: Long,
    shWriteBytes: Long, shWriteRecords: Long, shWriteNs: Long,
    shReadBytes: Long, shFetchWaitMs: Long, inBytes: Long, inRecords: Long)

/** Listener-side record of jobs, stages and tasks, tied to a query by the
  * job group the benchmark sets for each traced execution. */
final class Recorder extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val stageSpans = new ConcurrentLinkedQueue[(Int, String, Long, Long)]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val stages = e.stageInfos.map(_.stageId)
    stages.foreach(s => stageGroup.put(s, group))
    jobs.put(e.jobId, JobRec(e.jobId, group, e.time, stages))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stageSpans.add((i.stageId, stageGroup.getOrDefault(i.stageId, ""), s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val i = e.taskInfo
    val gettingResult = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
    val delay = math.max(0L, i.finishTime - i.launchTime - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime, delay, m.resultSize,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
  }

  /** Blocks until every event posted before this call has been delivered:
    * runs a marker job and waits for its end event, which the listener
    * bus delivers after everything queued ahead of it. */
  def drain(sc: SparkContext, marker: String): Unit = {
    sc.setJobGroup(marker, "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def done = jobs.values.asScala.exists(j => j.group == marker && j.end >= 0)
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** What the benchmark observed around one traced execution. */
final case class TracedExec(query: String, id: String, spans: Seq[Span], rows: Long,
    ruleNs: Long, ruleFires: Long, ops: Map[String, (Long, Long)], phases: Map[String, Long])

object Trace {
  /** Graft rules' RuleExecutor time (ns) and effective runs since the last
    * `RuleExecutor.resetMetrics()`, parsed from the public metering dump
    * (rows: name, effective time / total time, effective runs / total runs). */
  def graftRules(): (Long, Long) = {
    var ns = 0L
    var fires = 0L
    RuleExecutor.dumpTimeSpent().linesIterator.map(_.trim.split("\\s+"))
      .filter(t => t.length == 7 && t(0).startsWith("graft.")).foreach { t =>
        ns += t(3).toLong
        fires += t(4).toLong
      }
    (ns, fires)
  }

  /** Graft exec nodes of a finished plan: simple name -> (instances, output rows). */
  def graftOps(plan: SparkPlan): Map[String, (Long, Long)] = {
    val acc = mutable.Map.empty[String, (Long, Long)]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case n =>
        if (n.getClass.getName.startsWith("graft.")) {
          val (c, r) = acc.getOrElse(n.getClass.getSimpleName, (0L, 0L))
          acc(n.getClass.getSimpleName) =
            (c + 1, r + n.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
        }
        n.children.foreach(walk)
        n.innerChildren.foreach { case c: SparkPlan => walk(c); case _ => }
        n.subqueries.foreach(walk)
    }
    walk(plan)
    acc.toMap
  }

  /** The parts of [lo, hi] that no interval covers. */
  def complement(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    var cur = lo
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > cur && cur < hi) out += ((cur, math.min(a, hi)))
      cur = math.max(cur, b)
    }
    if (cur < hi) out += ((cur, hi))
    out.toSeq
  }

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var total = 0.0
    var cur = (Double.NaN, Double.NaN)
    c.foreach { case (a, b) =>
      if (cur._1.isNaN) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { total += cur._2 - cur._1; cur = (a, b) }
    }
    if (!cur._1.isNaN) total += cur._2 - cur._1
    total
  }
}

/** One stack sample of the query thread: when it was taken, the driver
  * layer its innermost recognised frame belongs to (empty when none is),
  * and whether any frame is graft code. */
final case class Sample(t: Double, layer: String, graft: Boolean)

/** Samples the stack of one thread every `periodMs` while armed.
  *
  * The driver's own work inside `collect()` outside any job interval
  * (code generation, broadcasts, waiting for the scheduler to start a
  * job, AQE re-planning, graft driver-side work, building RDDs) has no
  * Spark metric; the samples name it. `clock` is the benchmark's
  * epoch-millisecond clock. */
final class Sampler(target: Thread, clock: () => Double, val periodMs: Double)
    extends Thread("perfbench-sampler") {
  setDaemon(true)
  val samples = new ConcurrentLinkedQueue[Sample]()
  @volatile var armed = false
  @volatile private var stopped = false

  override def run(): Unit = while (!stopped) {
    if (armed) {
      val t = clock()
      val st = target.getStackTrace
      if (armed) samples.add(Sample(t, Sampler.layer(st), st.exists(_.getClassName.startsWith("graft."))))
    }
    java.util.concurrent.locks.LockSupport.parkNanos((periodMs * 1e6).toLong)
  }

  def finish(): Unit = { stopped = true; join() }

  /** Samples taken in [lo, hi]. */
  def between(lo: Double, hi: Double): IndexedSeq[Sample] =
    samples.asScala.iterator.filter(s => s.t >= lo && s.t <= hi).toVector.sortBy(_.t)
}

object Sampler {
  /** Driver layers, checked against each frame from the innermost out;
    * the first frame that matches one names the sample's layer. */
  private val layers: Seq[(String, StackTraceElement => Boolean)] = Seq(
    "codegen" -> (f => f.getClassName.startsWith("org.codehaus.") ||
      f.getClassName.contains(".expressions.codegen.") || f.getMethodName == "doCodeGen"),
    "bcast" -> (f => f.getClassName.contains("Broadcast")),
    "submit" -> (f => f.getClassName.startsWith("org.apache.spark.scheduler.") ||
      f.getClassName == "org.apache.spark.util.ClosureCleaner$" ||
      (f.getClassName == "org.apache.spark.SparkContext" && f.getMethodName == "runJob")),
    "aqe" -> (f => f.getClassName.startsWith("org.apache.spark.sql.execution.adaptive.")),
    "graft" -> (f => f.getClassName.startsWith("graft.")),
    "setup" -> (f => f.getClassName.startsWith("org.apache.spark.sql.execution.") ||
      f.getClassName.startsWith("org.apache.spark.rdd.")))
  val names: Seq[String] = layers.map(_._1)

  def layer(st: Array[StackTraceElement]): String =
    st.iterator.flatMap(f => layers.find(_._2(f)).map(_._1)).nextOption().getOrElse("")

  /** Milliseconds of `iv` (disjoint intervals) that samples explain, per
    * layer. A sample stands for the time until the next sample, at most
    * `maxMs`; time no sample stands for, or whose sample matched no
    * layer, is left out. */
  def split(iv: Seq[(Double, Double)], samples: Seq[Sample], keep: Sample => Option[String],
      maxMs: Double): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    samples.zipWithIndex.foreach { case (s, i) =>
      val end = math.min(s.t + maxMs, samples.lift(i + 1).map(_.t).getOrElse(s.t + maxMs))
      keep(s).foreach { k =>
        acc(k) += iv.map { case (a, b) => math.max(0.0, math.min(b, end) - math.max(a, s.t)) }.sum
      }
    }
    acc.toMap
  }
}

/** Self-time split of one traced execution, in milliseconds.
  *
  * The benchmark's own spans tile the query: `plan.analyze` (SQL text or
  * DataFrame builder), `plan.optimize`, `plan.physical` and `collect`
  * (the `collect()` call). Inside `collect`, listener job intervals split
  * the time into job wall, the driver's time before the first job and
  * between jobs (`driverGap`), and the tail after the last job (result
  * rows to the driver). Job wall is split again by task intervals into
  * task-covered wall (`exec`) and job wall with no task running (`sched`).
  * Stack samples split the driver gap into `gapLayers` (see `Sampler`);
  * `unattributed` is the part of the gap no sample explains, so the named
  * layers cover `wall - unattributed`. `graftPlan` is the sampled time in
  * graft code during `plan.optimize` and `plan.physical` (graft rules,
  * planner strategies and prep rules). */
final case class Attribution(wall: Double, analyze: Double, optimize: Double, physical: Double,
    driverGap: Double, gapLayers: Map[String, Double], sched: Double, exec: Double,
    collectTail: Double, unattributed: Double, graftPlan: Double,
    jobs: Int, stages: Int, tasks: Seq[TaskRec], jobWall: Double)

object Attribution {
  def apply(t: TracedExec, rec: Recorder, sampler: Sampler): Attribution = {
    def span(n: String) = t.spans.find(_.name == n).get
    val q = span("query")
    val c = span("collect")
    val jobs = rec.jobs.values.asScala.filter(j => j.group == t.id && j.end >= 0).toSeq
    val stageIds = jobs.flatMap(_.stages).toSet
    val tasks = rec.tasks.asScala.filter(x => stageIds(x.stage)).toSeq
    val jobIv = jobs.map(j => (j.start.toDouble, j.end.toDouble))
    val jobWall = Trace.unionMs(jobIv, c.start, c.end)
    // tasks run inside their job's interval, so their union within the
    // collect call is the task-covered part of the job wall
    val exec = math.min(jobWall,
      Trace.unionMs(tasks.map(x => (x.launch.toDouble, x.finish.toDouble)), c.start, c.end))
    val inCollect = jobIv.filter { case (a, b) => b > c.start && a < c.end }
    val lastEnd = if (inCollect.isEmpty) c.start else math.min(c.end, inCollect.map(_._2).max)
    val tail = c.end - lastEnd
    val gapIv = Trace.complement(jobIv, c.start, lastEnd)
    val gap = gapIv.map(x => x._2 - x._1).sum
    val samples = sampler.between(q.start, q.end)
    // a sample stands for at most two sampling periods: a longer pause
    // (GC, a late wake-up) stays unattributed
    val maxMs = 2 * sampler.periodMs
    val gapLayers = Sampler.split(gapIv, samples, s => Some(s.layer).filter(_.nonEmpty), maxMs)
    val graftPlan = Sampler.split(Seq((span("plan.optimize").start, span("plan.physical").end)),
      samples, s => if (s.graft) Some("graft") else None, maxMs).getOrElse("graft", 0.0)
    val plan = span("plan.analyze").ms + span("plan.optimize").ms + span("plan.physical").ms
    val named = plan + gapLayers.values.sum + jobWall + tail
    Attribution(q.ms, span("plan.analyze").ms, span("plan.optimize").ms, span("plan.physical").ms,
      gap, gapLayers, jobWall - exec, exec, tail, math.max(0.0, q.ms - named),
      graftPlan, jobs.size, stageIds.size, tasks, jobWall)
  }
}
