package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `spark.graft.*` settings are per session: two sessions of one
  * SparkContext plan their own routes at the same time, a bad setting is
  * rejected when set, and no engine code keeps a JVM-wide knob.
  */
class GraftConfSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(s: SparkSession): SparkPlan = s.range(50000).selectExpr(
      "id % 50 AS k", "concat('g', id % 40) AS s", "id % 5 AS l")
    .groupBy("k", "s").agg(sum(col("l")).as("sl"), count(lit(1)).as("n"))
    .queryExecution.executedPlan

  test("two sessions plan concurrently, each with its own spark.graft.disabled") {
    val packed = spark.newSession()
    val stock = spark.newSession()
    Seq(packed, stock).foreach(_.conf.set("spark.sql.adaptive.enabled", "false"))
    stock.conf.set("spark.graft.disabled", "PackedShuffleAgg")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val barrier = new CyclicBarrier(2)
      def planning(s: SparkSession): Callable[Seq[SparkPlan]] = () =>
        (1 to 10).map { _ => barrier.await(60, TimeUnit.SECONDS); plan(s) }
      val (p, st) = (pool.submit(planning(packed)), pool.submit(planning(stock)))
      p.get().foreach { plan =>
        assert(plan.collect { case a: graft.plans.PackedFinalAggExec => a }.nonEmpty, plan)
        assert(plan.collect { case a: HashAggregateExec => a }.isEmpty, plan)
      }
      st.get().foreach { plan =>
        assert(plan.collect { case a: graft.plans.PackedFinalAggExec => a }.isEmpty, plan)
        assert(plan.collect { case a: HashAggregateExec => a }.length == 2, plan)
      }
    } finally pool.shutdown()
  }

  test("an unknown name in spark.graft.disabled is rejected when set") {
    val s = spark.newSession()
    val e = intercept[IllegalArgumentException](
      s.conf.set("spark.graft.disabled", "PackedShuffleAgg,NoSuchRule"))
    assert(e.getMessage.contains("spark.graft.disabled"), e.getMessage)
    s.conf.set("spark.graft.disabled", "PackedShuffleAgg,PackedAgg.dictKeys")
    assert(s.conf.get("spark.graft.disabled") == "PackedShuffleAgg,PackedAgg.dictKeys")
    intercept[IllegalArgumentException](s.conf.set("spark.graft.agg.flushGroups", "0"))
  }

  private def sources(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  private val engineDirs = Seq("plans", "rules", "functions").map(d => s"src/main/scala/graft/$d")

  test("engine code reads no env var and keeps no JVM-global knob") {
    val banned = """sys\.env|System\.getenv|@volatile\s+(private\S*\s+)?var""".r
    val hits = engineDirs.flatMap(sources).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no spec assigns a field of an engine object") {
    val objects = engineDirs.flatMap(sources).flatMap { p =>
      """(?m)^\s*(?:private\S*\s+)?(?:case\s+)?object\s+(\w+)""".r
        .findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
    assert(objects.contains("PackedAgg") && objects.contains("PackedShuffleAgg"))
    // a statement `[pkg.]Object.field = v` (not `==`, `=>` or a type)
    val assign = """(?:^|[;{]|\bfinally\b|\btry\b|=>)\s*(?:\w+\.)*(\w+)\.\w+\s*=(?![=>])""".r
    assert(assign.findFirstMatchIn("    graft.plans.PackedAgg.flushCap = 64").map(_.group(1))
      .contains("PackedAgg"))
    val hits = sources("src/test/scala").flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
        assign.findAllMatchIn(line).filter(m => objects(m.group(1)))
          .map(_ => s"$p:${i + 1}: ${line.trim}")
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
