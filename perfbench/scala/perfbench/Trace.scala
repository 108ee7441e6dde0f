package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.{FileSourceScanExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** A closed span: one call into a layer, made by the benchmark.  `start`
  * and `end` are `System.nanoTime`; `startMs` is wall-clock millis, the
  * clock Spark's listener events use.
  */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    start: Long, end: Long, startMs: Long) {
  def ns: Long = end - start
}

/** Spark work attributed to one span (and, after [[Tracer.rollUp]], to its
  * descendants too).
  */
final class Counters {
  var jobs, stages, tasks, broadcasts, filesRead = 0L
  var runNs, cpuNs, planNs, jobNs = 0L
  var shuffleBytes, spillBytes, scanBytes = 0L
  var firstLaunchMs = Long.MaxValue
  val taskMs = mutable.ArrayBuffer[Long]()
  val stageIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    broadcasts += o.broadcasts; filesRead += o.filesRead
    runNs += o.runNs; cpuNs += o.cpuNs; planNs += o.planNs; jobNs += o.jobNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    scanBytes += o.scanBytes
    firstLaunchMs = math.min(firstLaunchMs, o.firstLaunchMs)
    taskMs ++= o.taskMs; stageIntervals ++= o.stageIntervals
  }

  /** Time between the first stage's submission and the last stage's
    * completion during which no stage of this span was running.
    */
  def stageGapMs: Long =
    if (stageIntervals.isEmpty) 0L
    else {
      val sorted = stageIntervals.sortBy(_._1)
      var covered = 0L
      var (s, e) = sorted.head
      sorted.tail.foreach { case (a, b) =>
        if (a > e) { covered += e - s; s = a; e = b } else e = math.max(e, b)
      }
      covered += e - s
      (sorted.map(_._2).max - sorted.head._1) - covered
    }

  /** Slowest task over the median task. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** In-memory span recorder plus the Spark listeners that attribute jobs,
  * stages, tasks and query plans to the innermost open span.  The span id
  * travels to Spark as a thread-local job property, so every job a layer
  * call submits -- including broadcast jobs run on Spark's own threads,
  * which inherit the caller's properties -- lands on that call's span.
  * Off (the default) it adds nothing but one volatile read per span.
  */
object Tracer {
  val Key = "perfbench.span"

  private final class Open(val id: Long, val name: String, val parent: Open,
      val request: Long, val start: Long, val startMs: Long)

  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong
  private val requests = new AtomicLong
  private val current = new ThreadLocal[Open]
  private val closed = new ConcurrentLinkedQueue[Span]()

  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val execPlan = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long)]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[Long, Counters]()

  private def of(span: Long): Counters = counters.computeIfAbsent(span, _ => new Counters)

  private object listener extends SparkListener with AdaptiveSparkPlanHelper {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { s =>
        val span = s.toLong
        jobSpan.put(e.jobId, span); jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, span))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.putIfAbsent(x.toLong, span))
        val c = of(span)
        c.synchronized { c.jobs += 1 }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { span =>
        val c = of(span)
        c.synchronized { c.jobNs += (e.time - jobStartMs.get(e.jobId)) * 1000000L }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageSpan.get(info.stageId)).foreach { span =>
        val c = of(span)
        c.synchronized {
          c.stages += 1
          for (a <- info.submissionTime; b <- info.completionTime) c.stageIntervals += ((a, b))
        }
      }
    }

    /** Planning phases, files scanned and broadcast exchanges, kept until
      * [[stop]] maps the execution to the span whose jobs carried its id. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchBridge.queryExecution(end).foreach { qe =>
          val plan = qe.executedPlan match {
            case w: DataWritingCommandExec => w.child
            case p => p
          }
          val files = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
            .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
          val broadcasts = collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.size
          val planNs = qe.tracker.phases.values.map(_.durationMs * 1000000L).sum
          execPlan.put(end.executionId, (planNs, files, broadcasts.toLong))
        }
      case _ =>
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val c = of(span)
        c.synchronized {
          c.tasks += 1
          c.taskMs += e.taskInfo.duration
          c.firstLaunchMs = math.min(c.firstLaunchMs, e.taskInfo.launchTime)
          Option(e.taskMetrics).foreach { m =>
            c.runNs += m.executorRunTime * 1000000L
            c.cpuNs += m.executorCpuTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.diskBytesSpilled
            c.scanBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }

  /** Starts recording spans and Spark events for `spark`. */
  def start(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    sc = spark.sparkContext
  }

  /** Stops recording and waits until every posted Spark event is counted. */
  def stop(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = null
    PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    execPlan.asScala.foreach { case (exec, (planNs, files, broadcasts)) =>
      Option(execSpan.get(exec)).foreach { span =>
        val c = of(span)
        c.planNs += planNs; c.filesRead += files; c.broadcasts += broadcasts
      }
    }
    execPlan.clear()
  }

  /** Runs `f` inside a span; a no-op wrapper while tracing is off. A span
    * opened with no span open is the root of a request (a pass). */
  def span[A](name: String)(f: => A): A = {
    val ctx = sc
    if (ctx == null) f
    else {
      val parent = current.get
      val req = Option(parent).map(_.request).getOrElse(requests.incrementAndGet())
      val open = new Open(ids.incrementAndGet(), name, parent, req,
        System.nanoTime(), System.currentTimeMillis())
      current.set(open)
      ctx.setLocalProperty(Key, open.id.toString)
      try f
      finally {
        closed.add(Span(open.id, name, Option(parent).map(_.id).getOrElse(0L), req,
          open.start, System.nanoTime(), open.startMs))
        current.set(parent)
        ctx.setLocalProperty(Key, Option(parent).map(_.id.toString).orNull)
      }
    }
  }

  def spans: Seq[Span] = closed.asScala.toSeq.sortBy(_.start)

  /** Counters of every span summed over its subtree. */
  def rollUp(): Map[Long, Counters] = {
    val all = spans
    val out = all.map(s => s.id -> new Counters).toMap
    val parentOf = all.map(s => s.id -> s.parent).toMap
    counters.asScala.foreach { case (id, c) =>
      var cur = id
      while (cur != 0L && out.contains(cur)) { out(cur).add(c); cur = parentOf(cur) }
    }
    out
  }

  /** Self time per span name: duration minus the part covered by children. */
  def selfTimes(): Map[String, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(_.ns).sum
        math.max(0L, s.ns - covered)
      }.sum
    }
  }
}
