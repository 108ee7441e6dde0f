package graft.tpg

import org.apache.spark.sql.SparkSession

/** CLI entry points mirroring the reference's scripts — a user of
  * `AurelK7/tpg_weather_etl` maps each `python src/NN_*.py --db <db>`
  * invocation onto one of these mains. The gold directory is the first
  * argument of each, as the reference's `--db` is of each script; every main
  * runs one [[Pipeline]] stage over it:
  *
  * | reference                      | here (`graft.tpg.`)                            |
  * |--------------------------------|------------------------------------------------|
  * | 01_ingest_gtfs.py              | IngestGtfs <gold> <gtfsZip>                    |
  * | 02_ingest_istdaten.py          | IngestIstdaten <gold> <csv...>                 |
  * | 03_ingest_weather.py           | IngestWeather <gold> <csv...>                  |
  * | 10_build_features.py [--asof]  | BuildFeatures <gold> [--asof] [--station-id X] |
  * | 11_build_features_by_stop_line | BuildByStopLine <gold>                         |
  * | 12_* (declared, absent)        | BuildTrainingRows <gold>                       |
  *
  * No `--workers`/PRAGMA flags: parallelism is Spark's (per-split scans,
  * `spark.sql.shuffle.partitions`), and the transactional upsert machinery
  * is replaced by idempotent dynamic partition overwrite.
  */
object Jobs {
  def session(appName: String): SparkSession =
    graft.Regime.session(graft.Regime.jobs(appName, sys.env))

  /** Runs `f` in a [[session]] named `appName`, then stops it. */
  def run(appName: String)(f: SparkSession => Unit): Unit = {
    val spark = session(appName)
    f(spark)
    spark.stop()
  }

  /** An `IllegalArgumentException` saying `why`, then the main's `usage`
    * line; each main raises it from its `parse`, before any session starts. */
  private[tpg] def usageError(why: String, usage: String): Nothing =
    throw new IllegalArgumentException(s"$why; usage: $usage")

  private[tpg] def wrongCount(args: Seq[String], usage: String): Nothing =
    usageError(s"wrong number of arguments (${args.size})", usage)

  /** `<gold> <csv...>`, at least one CSV; anything shorter is a usage error. */
  private[tpg] def goldAndCsvs(args: Seq[String], usage: String): (String, Seq[String]) =
    args match {
      case gold +: csvs if csvs.nonEmpty => (gold, csvs)
      case _ => wrongCount(args, usage)
    }

  /** `<gold>` alone; any other argument count is a usage error. */
  private[tpg] def goldOnly(args: Seq[String], usage: String): String = args match {
    case Seq(gold) => gold
    case _ => wrongCount(args, usage)
  }
}

object IngestGtfs {
  /** `<gold> <gtfsZip>`; any other argument count is a usage error. */
  def parse(args: Seq[String]): (String, String) = args match {
    case Seq(gold, zip) => (gold, zip)
    case _ => Jobs.wrongCount(args, "IngestGtfs <gold> <gtfsZip>")
  }

  def main(args: Array[String]): Unit = {
    val (gold, zip) = parse(args.toSeq)
    Jobs.run("ingest-gtfs")(Pipeline.gtfs(_, gold, zip))
  }
}

object IngestIstdaten {
  def parse(args: Seq[String]): (String, Seq[String]) =
    Jobs.goldAndCsvs(args, "IngestIstdaten <gold> <csv...>")

  def main(args: Array[String]): Unit = {
    val (gold, csvs) = parse(args.toSeq)
    Jobs.run("ingest-istdaten")(Pipeline.istdaten(_, gold, csvs))
  }
}

object IngestWeather {
  def parse(args: Seq[String]): (String, Seq[String]) =
    Jobs.goldAndCsvs(args, "IngestWeather <gold> <csv...>")

  def main(args: Array[String]): Unit = {
    val (gold, csvs) = parse(args.toSeq)
    Jobs.run("ingest-weather")(Pipeline.weather(_, gold, csvs))
  }
}

object BuildFeatures {
  /** `<gold> [--asof] [--station-id <id>]` as (gold, asof, station
    * strategy): the dominant station unless one is named. Any other
    * argument, or `--station-id` without an id, is an
    * `IllegalArgumentException` naming it. */
  def parse(args: Seq[String]): (String, Boolean, FeaturesEvents.StationStrategy) = {
    import FeaturesEvents.{DominantStation, ExplicitStation, StationStrategy}
    def fail(why: String) = Jobs.usageError(why, "BuildFeatures <gold> [--asof] [--station-id <id>]")
    @scala.annotation.tailrec
    def flags(rest: List[String], asof: Boolean, station: StationStrategy)
        : (Boolean, StationStrategy) = rest match {
      case Nil => (asof, station)
      case "--asof" :: t => flags(t, asof = true, station)
      case "--station-id" :: id :: t if !id.startsWith("--") => flags(t, asof, ExplicitStation(id))
      case "--station-id" :: _ => fail("--station-id needs a station id")
      case other :: _ => fail(s"unknown argument '$other'")
    }
    args.toList match {
      case gold :: rest if !gold.startsWith("--") =>
        val (asof, station) = flags(rest, asof = false, DominantStation)
        (gold, asof, station)
      case _ => fail("the gold directory comes first")
    }
  }

  def main(args: Array[String]): Unit = {
    val (gold, asof, strategy) = parse(args.toSeq)
    Jobs.run("build-features") { spark =>
      Pipeline.features(spark, gold, asof, strategy)
      FeaturesEvents.qc(Pipeline.read(spark, gold, "features")).show(truncate = false)
    }
  }
}

object BuildByStopLine {
  def parse(args: Seq[String]): String = Jobs.goldOnly(args, "BuildByStopLine <gold>")

  def main(args: Array[String]): Unit = {
    val gold = parse(args.toSeq)
    Jobs.run("build-by-stop-line") { spark =>
      Pipeline.byStopLine(spark, gold)
      FeaturesByStopLine.qc(Pipeline.read(spark, gold, "by_stop_line")).show(truncate = false)
    }
  }
}

object BuildTrainingRows {
  def parse(args: Seq[String]): String = Jobs.goldOnly(args, "BuildTrainingRows <gold>")

  def main(args: Array[String]): Unit = {
    val gold = parse(args.toSeq)
    Jobs.run("build-training-rows")(Pipeline.trainingRows(_, gold))
  }
}
