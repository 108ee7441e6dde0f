package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import graft.{Bench, Regime}
import graft.queries.Catalog

/** Where a catalog query's time goes, in graft.Bench's session regime
  * (tables cached): driver-side planning, the builder, each stage, and the
  * gaps between stages.
  *
  * Usage: `graft.tools.Profile <query> [more...]`, e.g. through
  * `tools/jrun.sh`. Env: SPARK_GRAFT_SF_DIR (required), SPARK_GRAFT_RUNS
  * (default 5) and the regime's SPARK_GRAFT_CPUS / _SHUFFLE / _REPART.
  *
  * Per query: one warm run, then SPARK_GRAFT_RUNS timed runs, each building
  * the query (`Q.run`) and executing it to the noop sink, timed separately.
  * The formatted executed plan goes to stderr and one JSON record to stdout,
  * so stdout is JSONL. Build and exec times are the min over the runs; every
  * other field comes from the run with the least build + exec time. A
  * failing query stops the tool with its full stack and exit status 1.
  *
  * `codegen_compiles` > 0 on the timed runs means the query's generated
  * code depends on literal values (each new value compiles new classes) or
  * the codegen cache is too small for the query.
  */
object Profile extends AdaptiveSparkPlanHelper {

  /** One completed stage; times are epoch millis, as Spark reports them. */
  final case class Stage(id: Int, attempt: Int, name: String, submittedMs: Long,
      completedMs: Long, execRunMs: Long, tasks: Int, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    def wallMs: Long = completedMs - submittedMs
  }

  /** @param phasesMs `QueryExecution.tracker` phase times, summed over the
    *                 built query (its analysis) and the SQL executions of
    *                 the run (the noop write, plus any actions an eager
    *                 builder runs)
    * @param operators executed-plan node counts, subqueries included
    * @param codegenCompiles classes Spark compiled from generated code
    * @param janinoMs time those compiles took, all threads
    * @param jitMs HotSpot JIT compile time, all threads
    * @param gcMs collection time summed over the JVM's collectors
    */
  final case class Record(query: String, sfDir: String, runs: Int, buildS: Double,
      execS: Double, wallMs: Long, phasesMs: Map[String, Long], jobs: Int,
      stages: Seq[Stage], operators: Map[String, Int], plan: String,
      codegenCompiles: Long, janinoMs: Long, jitMs: Long, gcMs: Long) {
    def wallSumMs: Long = stages.map(_.wallMs).sum
    def execRunSumMs: Long = stages.map(_.execRunMs).sum

    /** Timed wall minus the union of the stage intervals: time in which no
      * stage ran (driver work, broadcast builds, scheduling). */
    def stageGapMs: Long = {
      val (covered, _) = stages.map(s => (s.submittedMs, s.completedMs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
        }
      wallMs - covered
    }

    def json: String = {
      final case class Raw(json: String)
      def obj(kv: Seq[(String, Any)]): Raw = Raw(kv.map { case (k, v) =>
        Bench.jstr(k) + ":" + (v match {
          case Raw(j) => j
          case s: String => Bench.jstr(s)
          case d: Double => f"$d%.3f"
          case x => x.toString
        })
      }.mkString("{", ",", "}"))
      def sec(ms: Long): Double = ms / 1e3
      val stageRows = stages.sortBy(-_.wallMs).map(s => obj(Seq(
        "id" -> s.id, "attempt" -> s.attempt, "name" -> s.name, "wall_s" -> sec(s.wallMs),
        "exec_run_s" -> sec(s.execRunMs), "tasks" -> s.tasks, "input_bytes" -> s.inputBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes)))
      obj(Seq(
        "query" -> query, "sf" -> sfDir, "runs" -> runs, "build_s" -> buildS,
        "exec_s" -> execS, "wall_s" -> sec(wallMs),
        "tracker_ms" -> obj(phasesMs.toSeq.sorted),
        "jobs" -> jobs, "stages" -> stages.size, "wall_sum_s" -> sec(wallSumMs),
        "exec_run_sum_s" -> sec(execRunSumMs), "stage_gap_s" -> sec(stageGapMs),
        "codegen_compiles" -> codegenCompiles, "janino_ms" -> janinoMs, "jit_ms" -> jitMs,
        "gc_ms" -> gcMs,
        "operators" -> obj(operators.toSeq.sorted),
        "stage_rows" -> Raw(stageRows.map(_.json).mkString("[", ",", "]")))).json
    }
  }

  /** Spark events of one run; attached only while the run executes, with
    * the listener bus drained on both sides. */
  private final class Events extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[Stage]()
    val phases = new ConcurrentLinkedQueue[(String, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      for (a <- i.submissionTime; b <- i.completionTime) stages.add(Stage(i.stageId,
        i.attemptNumber(), i.name.takeWhile(_ != '\n'), a, b, m.executorRunTime,
        i.numTasks, m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        GraftSqlShims.queryExecution(end).foreach(_.tracker.phases.foreach {
          case (phase, s) => phases.add(phase -> s.durationMs)
        })
      case _ =>
    }
  }

  /** JVM-wide counters a run reads on both sides: classes compiled from
    * generated code, their compile ms, JIT ms, GC ms. */
  private def counters(): (Long, Long, Long, Long) = (
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime / 1000000L,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum)

  private final case class Run(buildNs: Long, execNs: Long, events: Events, df: DataFrame,
      compiles: Long, janinoMs: Long, jitMs: Long, gcMs: Long)

  private def run(spark: SparkSession, sfDir: String, q: Catalog.Q): Run = {
    val sc = spark.sparkContext
    GraftSqlShims.drainListeners(sc)
    val events = new Events
    sc.addSparkListener(events)
    try {
      val (c0, n0, j0, g0) = counters()
      val t0 = System.nanoTime()
      val df = q.run(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      GraftSqlShims.drainListeners(sc)
      val (c1, n1, j1, g1) = counters()
      Run(t1 - t0, t2 - t1, events, df, c1 - c0, n1 - n0, j1 - j0, g1 - g0)
    } finally sc.removeSparkListener(events)
  }

  /** Profiles the catalog query `name` on `sfDir` over `runs` timed runs. */
  def record(spark: SparkSession, sfDir: String, name: String, runs: Int): Record = {
    require(runs > 0, s"runs must be positive, got $runs")
    val q = Catalog.named(name)
    val warm = run(spark, sfDir, q)
    System.gc()
    val timed = (1 to runs).map(_ => run(spark, sfDir, q))
    val best = timed.minBy(r => r.buildNs + r.execNs)
    val operators = collectWithSubqueries(warm.df.queryExecution.executedPlan) {
      case _: WholeStageCodegenExec => "WholeStageCodegen"
      case s: ShuffleExchangeExec =>
        "Exchange " + s.outputPartitioning.getClass.getSimpleName.stripSuffix("$")
      case p if !p.isInstanceOf[InputAdapter] => p.nodeName
    }.groupMapReduce(identity)(_ => 1)(_ + _)
    Record(name, sfDir, runs, timed.map(_.buildNs).min / 1e9, timed.map(_.execNs).min / 1e9,
      (best.buildNs + best.execNs) / 1000000L,
      (best.df.queryExecution.tracker.phases.map { case (p, s) => p -> s.durationMs }.toSeq ++
        best.events.phases.asScala).groupMapReduce(_._1)(_._2)(_ + _),
      best.events.jobs.get, best.events.stages.asScala.toSeq, operators,
      warm.df.queryExecution.explainString(FormattedMode), best.compiles, best.janinoMs, best.jitMs,
      best.gcMs)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.tools.Profile <query> [more...]")
    args.foreach(Catalog.named) // unknown names fail before a session starts
    val sfDir = Regime.env("SPARK_GRAFT_SF_DIR", "")
    require(sfDir.nonEmpty, "set SPARK_GRAFT_SF_DIR to a table directory")
    val runs = Regime.env("SPARK_GRAFT_RUNS", "5").toInt
    val spark = Regime.session(Regime.bench(sys.env))
    val failed = try {
      Regime.cacheTables(spark, sfDir)
      args.foreach { name =>
        val r = record(spark, sfDir, name, runs)
        System.err.println(s"== $name executed plan\n${r.plan}")
        println(r.json)
      }
      false
    } catch { case e: Throwable => e.printStackTrace(); true }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
