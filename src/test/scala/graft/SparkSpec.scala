package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (UTC, small shuffle partitions, and the
  * engine's codegen regime, [[Regime.codegen]]: the cache is per JVM and
  * sized on first use, and `spark.plugins` is read only when the
  * SparkContext starts, so the suites see the reuse the mains see). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Regime.codegen)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
