package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.queries.Catalog
import graft.tpg.Serving

/** Raw files → gold → one dashboard refresh per pass, overwriting one gold
  * dir.  Set-up only starts the session: like the nightly job, the first
  * pass runs in a cold JVM, and as a pass outlasts `run_seconds` that is
  * the pass a run times.  After each pass (untimed) every gold table's rows
  * must equal the generator's count and its digest the first pass's; each
  * dashboard answer must equal the same request asked again.
  */
final class PipelineBatch(o: Opts) extends Workload {
  private val gold = s"${o.work}/gold"
  private val expected = Expected(o.inputs)
  private val dashboard = new Dashboard(gold, o.seed)
  private var first: Map[String, (Long, Long, Long)] = Map.empty

  def setup(spark: SparkSession): Unit = ()

  def pass(spark: SparkSession, i: Int): Op = {
    var answers = Seq.empty[(Dashboard.Req, Seq[Row])]
    val (ms, cpuMs, ran) = Workload.timed(Tracer.span("pass") {
      Chain.run(spark, o.inputs, gold)
      answers = dashboard.refresh(spark)
    })
    if (o.tamper == "gold" && i == 0) tamperGold(spark)
    if (o.tamper == "answer") answers = answers.map { case (r, rows) => r -> rows.drop(1) }
    Op(ms, cpuMs, ran && goldOk(spark) && dashboard.check(spark, answers))
  }

  private def goldOk(spark: SparkSession): Boolean = {
    val now = Chain.digests(spark, gold)
    if (first.isEmpty) first = now
    now.forall { case (t, d) =>
      val ok = d._1 == expected(t) && d == first(t)
      if (!ok) System.err.println(s"[perfbench] $t: digest $d, expected ${expected(t)} rows " +
        s"and the first pass's ${first(t)}")
      ok
    }
  }

  /** Test hook: drops one row of by_stop_line after the first pass. */
  private def tamperGold(spark: SparkSession): Unit = {
    val path = s"$gold/by_stop_line"
    val rows = spark.read.parquet(path)
    val kept = rows.limit(rows.count().toInt - 1).localCheckpoint()
    kept.write.mode("overwrite").parquet(path)
  }

  def layers(spans: Seq[Span], c: Map[Long, Counters], gcS: Double): Map[String, Double] =
    Layers.pipeline(spans, c, expected, gold)
}

object Dashboard {
  val Kinds: Seq[String] = Seq("slice", "latestEvents", "missingProfile", "kpiSlice", "heatmap")
  final case class Req(kind: String, line: String, fromDay: Int)
}

/** The dashboards' refresh after a gold build: each `tpg.Serving` request
  * once, the slice for a seeded line and 3-day window.
  */
final class Dashboard(gold: String, seed: Long) {
  import Dashboard._
  private val rnd = new scala.util.Random(seed)

  def refresh(spark: SparkSession): Seq[(Req, Seq[Row])] = Kinds.map { k =>
    val r = if (k == "slice") Req(k, line(), 1 + rnd.nextInt(28)) else Req(k, "", 0)
    r -> Tracer.span(s"tpg.Serving.$k")(answer(spark, r))
  }

  /** Lines "1" to "30" with the generator's Zipf popularity. */
  private def line(): String = {
    val w = (1 to 30).map(k => 1.0 / math.pow(k, 1.1))
    var u = rnd.nextDouble() * w.sum
    (w.indices.find { i => u -= w(i); u < 0 }.getOrElse(0) + 1).toString
  }

  private def day(d: Int) = f"2024-06-$d%02d"

  private def answer(spark: SparkSession, r: Req): Seq[Row] = {
    def read(t: String) = spark.read.parquet(s"$gold/$t")
    r.kind match {
      case "slice" =>
        val view = Serving.slice(read("by_stop_line"), lines = Seq(r.line),
          fromDate = Some(day(r.fromDay)), toDate = Some(day(r.fromDay + 2)))
        view.collect().toSeq ++ Serving.sliceKpis(view).collect()
      case "latestEvents" => Serving.latestEvents(read("ist_events")).collect().toSeq
      case "missingProfile" => Serving.missingProfile(read("features")).collect().toSeq
      case "kpiSlice" => Serving.kpiSlice(read("features")).collect().toSeq
      case "heatmap" => Serving.heatmap(read("by_stop_line")).collect().toSeq
    }
  }

  /** A slice must equal by_stop_line filtered and aggregated in memory,
    * without Spark; every other answer must equal the same request asked
    * again. */
  def check(spark: SparkSession, answers: Seq[(Req, Seq[Row])]): Boolean = {
    lazy val byStopLine = spark.read.parquet(s"$gold/by_stop_line").collect().toSeq
    answers.forall { case (r, got) =>
      val have = Stats.canonical(got)
      val ok = if (r.kind == "slice") near(have, expectedSlice(byStopLine, r))
               else have == Stats.canonical(answer(spark, r))
      if (!ok) System.err.println(s"[perfbench] $r: answer differs")
      ok
    }
  }

  private def expectedSlice(rows: Seq[Row], r: Req): Seq[String] = {
    val from = java.time.LocalDate.parse(day(r.fromDay))
    val to = from.plusDays(2)
    val view = rows.filter { row =>
      val d = row.getAs[java.sql.Timestamp]("sched_bin").toInstant
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
      row.getAs[String]("line_text") == r.line && !d.isBefore(from) && !d.isAfter(to)
    }
    def avg(c: String): Any = {
      val xs = view.map(_.getAs[Any](c)).collect { case d: Double => d }
      if (xs.isEmpty) null else xs.sum / xs.size
    }
    val trips: Any = if (view.isEmpty) null else view.map(_.getAs[Long]("n_trips")).sum
    val late = avg("share_late_ge2") match { case d: Double => d * 100.0; case n => n }
    Stats.canonical(view :+ Row(trips, avg("delay_avg_min"), avg("delay_p90_min"), late))
  }

  /** Equal up to the last digits of doubles averaged in another order. */
  private def near(a: Seq[String], b: Seq[String]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      val xs = x.split("\u0001", -1)
      val ys = y.split("\u0001", -1)
      xs.length == ys.length && xs.zip(ys).forall { case (p, q) =>
        p == q || ((p.toDoubleOption, q.toDoubleOption) match {
          case (Some(u), Some(v)) => math.abs(u - v) <= 1e-9 * math.max(1.0, math.abs(u))
          case _ => false
        })
      }
    }
}

object CatalogMix {
  /** Two of the sf1 rows above 2× DuckDB (q85, q96), the set-similarity
    * join (llm), and the catalog twins of the pipeline's dedupe and AS-OF
    * layers. */
  val Names: Seq[String] = Seq(
    "q85_perplexity_gate", "q96_trigram_backoff", "q125_setsim_join",
    "q07_dedupe_priority", "q09_asof_join")
}

/** Catalog queries over cached tables in the bench session regime, each
  * pass in a seeded order, every query built (`Q.run`) and executed to the
  * noop sink inside the pass.  Set-up's warm pass writes each result for
  * the DuckDB oracle check `run.py` makes after the JVM exits.
  */
final class CatalogMix(o: Opts) extends Workload {
  private val queries = CatalogMix.Names.map(n => Catalog.all.find(_.name == n)
    .getOrElse(sys.error(s"no catalog query $n")))
  private val rnd = new scala.util.Random(o.seed)

  def setup(spark: SparkSession): Unit = {
    // graft.Bench's session regime: 8 shuffle partitions, AQE off, scans
    // re-sliced 8 ways, base tables cached
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("graft.scan.repartition", "8")
    // cached lazily: the first run of each query fills what it reads
    graft.Tables.names.foreach { t =>
      (if (t == "events") graft.Tables.events(spark, o.data)
       else graft.Tables.load(spark, o.data, t)).cache()
    }
    queries.foreach { q =>
      q.run(spark, o.data).write.mode("overwrite").parquet(s"${o.work}/catalog_out/${q.name}")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.work, "oracle.json"),
      Json.obj(queries.map(q => q.name -> q.oracle.getOrElse("")): _*).text)
  }

  def pass(spark: SparkSession, i: Int): Op = {
    var ok = true
    val (ms, cpuMs, _) = Workload.timed(Tracer.span("pass") {
      rnd.shuffle(queries).foreach { q =>
        Tracer.span(q.name) {
          try {
            val df = Tracer.span("build")(q.run(spark, o.data))
            Tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
          } catch { case NonFatal(e) =>
            ok = false; System.err.println(s"[perfbench] ${q.name} failed: $e")
          }
        }
      }
    })
    Op(ms, cpuMs, ok)
  }

  def layers(spans: Seq[Span], c: Map[Long, Counters], gcS: Double): Map[String, Double] =
    Layers.catalog(spans, c, gcS)
}
