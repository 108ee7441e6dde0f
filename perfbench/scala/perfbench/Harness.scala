package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.operators.Fingerprint
import graft.tpg._

/** Command line of the JVM side; `run.py` fills it in. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, inputs: String, data: String, out: String, tamper: String)

object Opts {
  def apply(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m.getOrElse("inputs", ""), m.getOrElse("data", ""), m("out"),
      m.getOrElse("tamper", ""))
  }
}

/** One timed pass: wall and process CPU milliseconds; `ok` is false when
  * it threw or its output failed its check. */
final case class Op(ms: Double, cpuMs: Double, ok: Boolean)

trait Workload {
  /** Warms the session up and builds what the timed window needs. */
  def setup(spark: SparkSession): Unit
  /** Runs passes until their measured time reaches `seconds`. */
  def window(spark: SparkSession, seconds: Double): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    while (ops.map(_.ms).sum < seconds * 1000) {
      ops += pass(spark, ops.size)
      System.err.println(f"[perfbench] pass ${ops.size}: ${ops.last.ms}%.0f ms")
    }
    ops.toSeq
  }
  /** One timed pass, checked outside its timing; `i` counts this window's passes. */
  def pass(spark: SparkSession, i: Int): Op
  /** Per-layer metrics from the traced window's spans; `gcS` is the JVM's
    * collection time during that window. */
  def layers(spans: Seq[Span], c: Map[Long, Counters], gcS: Double): Map[String, Double]
}

object Workload {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs `f`; its wall and process CPU time, and false if it threw. */
  def timed(f: => Unit): (Double, Double, Boolean) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val ok = try { f; true }
    catch { case NonFatal(e) => System.err.println(s"[perfbench] failed: $e"); false }
    ((System.nanoTime() - t0) / 1e6, (os.getProcessCpuTime - c0) / 1e6, ok)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts(args)
    val w: Workload = o.workload match {
      case "pipeline_batch" => new PipelineBatch(o)
      case "catalog_mix"    => new CatalogMix(o)
      case other => sys.error(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    val spark = Jobs.session("perfbench")
    w.setup(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] setup $setupS%.2f s")

    val ops = w.window(spark, o.seconds)
    val heapMb = liveHeapMb()
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    var allOps = ops
    if (!o.trace) {
      // wall time per pass is left to the traced run (bench.pass_s): on a
      // shared host it swings with other tenants' load far more than the
      // process's own CPU time does
      metrics("setup_s") = (setupS, "s")
      metrics("pass_cpu_s") = (Stats.median(ops.map(_.cpuMs)) / 1e3, "s")
      metrics("live_heap_mb") = (heapMb, "MB")
    } else {
      Tracer.start(spark)
      val gc0 = Stats.gcMs()
      val traced = w.window(spark, o.seconds)
      val gcS = (Stats.gcMs() - gc0) / 1e3
      Tracer.stop(spark)
      val after = w.window(spark, o.seconds)
      allOps = ops ++ traced ++ after
      val spans = Tracer.spans
      val c = Tracer.rollUp()
      // untraced windows on both sides, as passes still speed up while the
      // JIT settles
      val overhead = Stats.median(traced.map(_.ms)) /
        ((Stats.median(ops.map(_.ms)) + Stats.median(after.map(_.ms))) / 2)
      val layer = w.layers(spans, c, gcS) ++ Layers.engine(spans, c, gcS, overhead) +
        ("bench.pass_s" -> Stats.median((ops ++ after).map(_.ms)) / 1e3)
      Layers.names.foreach { case (n, u) => metrics(n) = (layer.getOrElse(n, 0.0), u) }
      writeTrace(o, spans)
    }
    spark.stop()
    val json = Json.obj(
      "attempted" -> allOps.size,
      "failed" -> allOps.count(!_.ok),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) })
    Files.writeString(Paths.get(o.out), json.text)
    System.exit(0)
  }

  /** Heap in use after a full collection, in MB: the least of three
    * readings, as Spark's own threads may allocate between a collection
    * and its reading. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def writeTrace(o: Opts, spans: Seq[Span]): Unit = {
    val self = Tracer.selfTimes()
    val json = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed,
      "self_s" -> Json.obj(self.toSeq.sortBy(-_._2).map { case (k, v) => k -> v / 1e9 }: _*),
      "spans" -> spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "request" -> s.request,
        "start_ns" -> s.start, "end_ns" -> s.end)))
    Files.writeString(Paths.get(o.work, "trace.json"), json.text)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Rows as sorted strings, doubles to ten significant digits, so two
    * answers compare equal when they differ only in summation order.
    */
  def canonical(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double => f"$d%.9e"
      case f: Float => f"${f.toDouble}%.9e"
      case null => "\u0000N"
      case v => v.toString
    }.mkString("\u0001")).sorted
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  final case class Raw(text: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "0" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).text
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** The raw-files → training-rows chain, called exactly as `graft.tpg.Jobs`
  * and `tools.E2E` call it, with a span around every layer call.
  */
object Chain {
  val tables: Seq[String] = Seq("gtfs_routes", "gtfs_trips", "gtfs_stop_times",
    "gtfs_stops", "ist_events", "weather_obs", "features", "by_stop_line", "training_rows")

  private def listed(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getAbsolutePath).toSeq.sorted

  def run(spark: SparkSession, in: String, gold: String): Unit = {
    import Tracer.span
    def read(t: String) = spark.read.parquet(s"$gold/$t")
    val (routes, trips, stopTimes, stops) =
      span("tpg.GtfsIngest.build")(GtfsIngest.ingest(spark, s"$in/gtfs.zip"))
    span("tpg.GtfsIngest.write") {
      GtfsIngest.write(routes, s"$gold/gtfs_routes")
      GtfsIngest.write(trips, s"$gold/gtfs_trips")
      GtfsIngest.write(stopTimes, s"$gold/gtfs_stop_times")
      GtfsIngest.write(stops, s"$gold/gtfs_stops")
    }
    val events = span("tpg.IstdatenIngest.read")(
      IstdatenIngest.ingest(spark, listed(s"$in/istdaten")))
    span("tpg.IstdatenIngest.write")(IstdatenIngest.write(events, s"$gold/ist_events"))
    span("tpg.WeatherIngest")(WeatherIngest.write(
      WeatherIngest.ingest(spark, listed(s"$in/weather")), s"$gold/weather_obs"))
    val feats = span("tpg.FeaturesEvents.build")(
      FeaturesEvents.build(read("ist_events"), read("weather_obs"), asof = true))
    span("tpg.FeaturesEvents.write")(FeaturesEvents.write(feats, s"$gold/features"))
    span("tpg.FeaturesByStopLine")(FeaturesEvents.write(
      FeaturesByStopLine.build(read("features")), s"$gold/by_stop_line"))
    span("tpg.TrainingRow")(FeaturesEvents.write(
      TrainingRow.build(read("features"), read("weather_obs")), s"$gold/training_rows"))
  }

  /** (rows, xor60, sum32) `Fingerprint` digest of every gold table, and of
    * the features rows the AS-OF join matched (`asof_matched`), in one job.  Doubles are hashed to ten significant digits, so summation order
    * cannot change a digest; `training_rows` drops `row_id`, which
    * `monotonically_increasing_id` derives from file position.
    */
  def digests(spark: SparkSession, gold: String): Map[String, (Long, Long, Long)] = {
    def read(t: String) = spark.read.parquet(s"$gold/$t")
    val sources = tables.map(t => t -> read(t)) :+
      ("asof_matched" -> read("features").filter(col("weather_ts").isNotNull))
    val rows = sources.map { case (t, df0) =>
      val df = if (t == "training_rows") df0.drop("row_id") else df0
      val cols = df.schema.fields.toSeq.map { f =>
        val c = f.dataType match {
          case DoubleType | FloatType => format_string("%.9e", col(f.name))
          case _ => col(f.name).cast("string")
        }
        coalesce(c, lit("\u0000N"))
      }
      df.select(lit(t).as("table"), concat_ws("\u0001", cols: _*).as("row"))
    }.reduce(_ union _)
    val found = Fingerprint.datasetFingerprint(rows, Seq("table"), Seq("row")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    sources.map { case (t, _) => t -> found.getOrElse(t, (0L, 0L, 0L)) }.toMap
  }

  /** Bytes and parquet files under a gold table directory. */
  def footprint(gold: String, table: String): (Long, Long) = {
    val files = Files.walk(Paths.get(gold, table)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }
}

/** Expected counts the generator recorded (`expected.json`). */
object Expected {
  def apply(inputs: String): Map[String, Long] = {
    val txt = Files.readString(Paths.get(inputs, "expected.json"))
    "\"(\\w+)\":\\s*(\\d+)".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}

