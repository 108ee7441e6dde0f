package perfbench

/** Per-layer metrics of a traced window, computed from its spans and the
  * Spark counters attributed to them.  Every traced run prints every name
  * in [[names]]; a layer the workload never calls reads 0.  Per-operation
  * figures are medians over the window's operations (passes or requests).
  */
object Layers {
  private val tpg = Seq(
    "tpg.GtfsIngest.build_s" -> "s", "tpg.GtfsIngest.write_s" -> "s",
    "tpg.GtfsIngest.jobs" -> "count", "tpg.GtfsIngest.scan_bytes" -> "bytes",
    "tpg.IstdatenIngest.read_s" -> "s", "tpg.IstdatenIngest.write_s" -> "s",
    "tpg.IstdatenIngest.rows_in" -> "count", "tpg.IstdatenIngest.rows_out" -> "count",
    "tpg.IstdatenIngest.drop_ratio" -> "ratio", "tpg.IstdatenIngest.shuffle_bytes" -> "bytes",
    "tpg.WeatherIngest.s" -> "s", "tpg.WeatherIngest.rows_out" -> "count",
    "tpg.WeatherIngest.dedupe_ratio" -> "ratio",
    "tpg.FeaturesEvents.build_s" -> "s", "tpg.FeaturesEvents.write_s" -> "s",
    "tpg.FeaturesEvents.asof_match_ratio" -> "ratio",
    "tpg.FeaturesEvents.shuffle_bytes" -> "bytes",
    "tpg.FeaturesByStopLine.s" -> "s", "tpg.FeaturesByStopLine.rows_out" -> "count",
    "tpg.FeaturesByStopLine.spill_bytes" -> "bytes",
    "tpg.TrainingRow.s" -> "s", "tpg.TrainingRow.shuffle_bytes" -> "bytes",
    "tpg.TrainingRow.spill_bytes" -> "bytes", "tpg.TrainingRow.task_skew" -> "ratio")

  private val gold = Chain.tables.flatMap(t =>
    Seq(s"gold.$t.files" -> "count", s"gold.$t.bytes" -> "bytes"))

  private val serving =
    Dashboard.Kinds.map(k => s"tpg.Serving.$k.p50_ms" -> "ms") ++ Seq(
      "tpg.Serving.plan_ms" -> "ms", "tpg.Serving.exec_ms" -> "ms",
      "tpg.Serving.wait_ms" -> "ms", "tpg.Serving.scan_bytes" -> "bytes",
      "tpg.Serving.files_read" -> "count")

  private val catalog = CatalogMix.Names.map(n => s"queries.Catalog.$n.s" -> "s") ++ Seq(
    "build_s" -> "s", "exec_s" -> "s", "plan_s" -> "s", "stage_gap_s" -> "s",
    "core_util" -> "ratio", "jobs" -> "count", "stages" -> "count",
    "broadcasts" -> "count", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "gc_s" -> "s").map { case (n, u) => s"queries.Catalog.$n" -> u }

  private val spark = Seq(
    "plan_s" -> "s", "stage_gap_s" -> "s", "executor_run_s" -> "s",
    "executor_cpu_s" -> "s", "core_util" -> "ratio", "gc_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "trace_overhead" -> "ratio").map { case (n, u) => s"spark.$n" -> u }

  /** Every per-layer metric with its unit, in print order; `bench.pass_s`
    * is the wall time of the run's untraced passes. */
  val names: Seq[(String, String)] =
    Seq("bench.pass_s" -> "s") ++ tpg ++ gold ++ serving ++ catalog ++ spark

  private def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  /** Every span under `root`, at any depth. */
  private def under(spans: Seq[Span], root: Span): Seq[Span] = {
    val ids = scala.collection.mutable.Set(root.id)
    spans.filter(s => s.start >= root.start).flatMap { s =>
      if (ids.contains(s.parent)) { ids += s.id; Some(s) } else None
    }
  }

  private def cores: Int =
    org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism

  def footprint(goldDir: String): Map[String, Double] =
    Chain.tables.flatMap { t =>
      val (files, bytes) = Chain.footprint(goldDir, t)
      Seq(s"gold.$t.files" -> files.toDouble, s"gold.$t.bytes" -> bytes.toDouble)
    }.toMap

  def pipeline(spans: Seq[Span], c: Map[Long, Counters], counts: Map[String, Long],
      goldDir: String): Map[String, Double] = {
    val passes = spans.filter(s => s.name == "pass" && s.parent == 0L)
    val perPass = passes.map(p => under(spans, p).map(s => s.name -> s).toMap)
    def s(name: String) = med(perPass.map(_(name).ns / 1e9))
    def sum(names: String*)(f: Counters => Double) =
      med(perPass.map(m => names.map(n => f(c(m(n).id))).sum))
    val gtfs = Seq("tpg.GtfsIngest.build", "tpg.GtfsIngest.write")
    val ist = Seq("tpg.IstdatenIngest.read", "tpg.IstdatenIngest.write")
    val feats = Seq("tpg.FeaturesEvents.build", "tpg.FeaturesEvents.write")
    val istIn = counts("ist_raw_rows").toDouble
    val wIn = counts("weather_raw_rows").toDouble
    Map(
      "tpg.GtfsIngest.build_s" -> s("tpg.GtfsIngest.build"),
      "tpg.GtfsIngest.write_s" -> s("tpg.GtfsIngest.write"),
      "tpg.GtfsIngest.jobs" -> sum(gtfs: _*)(_.jobs.toDouble),
      "tpg.GtfsIngest.scan_bytes" -> sum(gtfs: _*)(_.scanBytes.toDouble),
      "tpg.IstdatenIngest.read_s" -> s("tpg.IstdatenIngest.read"),
      "tpg.IstdatenIngest.write_s" -> s("tpg.IstdatenIngest.write"),
      "tpg.IstdatenIngest.rows_in" -> istIn,
      "tpg.IstdatenIngest.rows_out" -> counts("ist_events").toDouble,
      "tpg.IstdatenIngest.drop_ratio" -> (1 - counts("ist_events") / istIn),
      "tpg.IstdatenIngest.shuffle_bytes" -> sum(ist: _*)(_.shuffleBytes.toDouble),
      "tpg.WeatherIngest.s" -> s("tpg.WeatherIngest"),
      "tpg.WeatherIngest.rows_out" -> counts("weather_obs").toDouble,
      "tpg.WeatherIngest.dedupe_ratio" -> (1 - counts("weather_obs") / wIn),
      "tpg.FeaturesEvents.build_s" -> s("tpg.FeaturesEvents.build"),
      "tpg.FeaturesEvents.write_s" -> s("tpg.FeaturesEvents.write"),
      "tpg.FeaturesEvents.asof_match_ratio" ->
        counts("asof_matched").toDouble / counts("features"),
      "tpg.FeaturesEvents.shuffle_bytes" -> sum(feats: _*)(_.shuffleBytes.toDouble),
      "tpg.FeaturesByStopLine.s" -> s("tpg.FeaturesByStopLine"),
      "tpg.FeaturesByStopLine.rows_out" -> counts("by_stop_line").toDouble,
      "tpg.FeaturesByStopLine.spill_bytes" ->
        sum("tpg.FeaturesByStopLine")(_.spillBytes.toDouble),
      "tpg.TrainingRow.s" -> s("tpg.TrainingRow"),
      "tpg.TrainingRow.shuffle_bytes" -> sum("tpg.TrainingRow")(_.shuffleBytes.toDouble),
      "tpg.TrainingRow.spill_bytes" -> sum("tpg.TrainingRow")(_.spillBytes.toDouble),
      "tpg.TrainingRow.task_skew" -> sum("tpg.TrainingRow")(_.taskSkew)
    ) ++ footprint(goldDir) ++ serving(spans, c)
  }

  /** Dashboard requests: each request span's own Spark work. */
  private def serving(spans: Seq[Span], c: Map[Long, Counters]): Map[String, Double] = {
    val reqs = spans.filter(_.name.startsWith("tpg.Serving.")).map(s => s -> c(s.id))
    val waits = reqs.collect { case (s, k) if k.tasks > 0 => (k.firstLaunchMs - s.startMs).toDouble }
    Dashboard.Kinds.map { k =>
      s"tpg.Serving.$k.p50_ms" -> med(reqs.collect { case (s, _) if s.name.endsWith(s".$k") => s.ns / 1e6 })
    }.toMap ++ Map(
      "tpg.Serving.plan_ms" -> med(reqs.map(_._2.planNs / 1e6)),
      "tpg.Serving.exec_ms" -> med(reqs.map(_._2.jobNs / 1e6)),
      "tpg.Serving.wait_ms" -> med(waits),
      "tpg.Serving.scan_bytes" -> med(reqs.map(_._2.scanBytes.toDouble)),
      "tpg.Serving.files_read" -> med(reqs.map(_._2.filesRead.toDouble)))
  }

  def catalog(spans: Seq[Span], c: Map[Long, Counters], gcS: Double): Map[String, Double] = {
    val passes = spans.filter(s => s.name == "pass" && s.parent == 0L)
    val queries = passes.map(p => spans.filter(_.parent == p.id))
    def perPass(f: Counters => Double) = med(passes.map(p => f(c(p.id))))
    def phase(name: String) = med(queries.map(qs =>
      qs.flatMap(q => spans.filter(s => s.parent == q.id && s.name == name)).map(_.ns / 1e9).sum))
    CatalogMix.Names.map { n =>
      s"queries.Catalog.$n.s" -> med(queries.flatMap(_.filter(_.name == n)).map(_.ns / 1e9))
    }.toMap ++ Map(
      "queries.Catalog.build_s" -> phase("build"),
      "queries.Catalog.exec_s" -> phase("exec"),
      "queries.Catalog.plan_s" -> perPass(_.planNs / 1e9),
      "queries.Catalog.stage_gap_s" ->
        med(queries.map(_.map(q => c(q.id).stageGapMs / 1e3).sum)),
      "queries.Catalog.core_util" ->
        med(passes.map(p => c(p.id).runNs.toDouble / (p.ns * cores))),
      "queries.Catalog.jobs" -> perPass(_.jobs.toDouble),
      "queries.Catalog.stages" -> perPass(_.stages.toDouble),
      "queries.Catalog.broadcasts" -> perPass(_.broadcasts.toDouble),
      "queries.Catalog.shuffle_bytes" -> perPass(_.shuffleBytes.toDouble),
      "queries.Catalog.spill_bytes" -> perPass(_.spillBytes.toDouble),
      "queries.Catalog.gc_s" -> gcS / math.max(1, passes.size))
  }

  /** Engine-wide figures per operation of the traced window. */
  def engine(spans: Seq[Span], c: Map[Long, Counters], gcS: Double,
      overhead: Double): Map[String, Double] = {
    val roots = spans.filter(_.parent == 0L)
    val n = math.max(1, roots.size).toDouble
    val total = new Counters
    roots.foreach(r => total.add(c(r.id)))
    val wallNs = if (roots.isEmpty) 1L else roots.map(_.end).max - roots.map(_.start).min
    Map(
      "spark.plan_s" -> total.planNs / 1e9 / n,
      "spark.stage_gap_s" -> roots.map(r => c(r.id).stageGapMs / 1e3).sum / n,
      "spark.executor_run_s" -> total.runNs / 1e9 / n,
      "spark.executor_cpu_s" -> total.cpuNs / 1e9 / n,
      "spark.core_util" -> total.runNs.toDouble / (wallNs.toDouble * cores),
      "spark.gc_s" -> gcS / n,
      "spark.jobs" -> total.jobs / n,
      "spark.tasks" -> total.tasks / n,
      "spark.shuffle_bytes" -> total.shuffleBytes / n,
      "spark.spill_bytes" -> total.spillBytes / n,
      "spark.trace_overhead" -> overhead)
  }
}
