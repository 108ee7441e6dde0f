package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the session regimes: Verify still plans what it planned before it
  * shared Bench's regime, `Jobs.session` is unchanged, and no main builds a
  * session of its own.
  */
class RegimeSpec extends AnyFunSuite {

  private val planShaping = Set("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "graft.scan.repartition", "spark.sql.session.timeZone")

  /** graft.Verify's plan-shaping settings before it used [[Regime.bench]]. */
  private def verifyBefore(env: Map[String, String]): Map[String, String] = {
    def e(n: String, d: String) = env.get(n).map(_.trim).filter(_.nonEmpty).getOrElse(d)
    Map(
      "spark.master" -> s"local[${env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
      "spark.sql.shuffle.partitions" -> e("SPARK_GRAFT_SHUFFLE", "8"),
      "spark.sql.adaptive.enabled" -> e("SPARK_GRAFT_AQE", "false"),
      "graft.scan.repartition" -> e("SPARK_GRAFT_REPART", "8"),
      "spark.sql.session.timeZone" -> "UTC")
  }

  test("bench: plan-shaping settings equal Verify's whenever SPARK_GRAFT_CPUS is set") {
    for (env <- Seq(
        Map("SPARK_GRAFT_CPUS" -> "4"),
        Map("SPARK_GRAFT_CPUS" -> "16", "SPARK_GRAFT_SHUFFLE" -> "32",
          "SPARK_GRAFT_REPART" -> "32", "SPARK_GRAFT_AQE" -> "true"),
        Map("SPARK_GRAFT_CPUS" -> "2", "SPARK_GRAFT_SHUFFLE" -> " ")))
      assert(Regime.bench(env).filter { case (k, _) => planShaping(k) } == verifyBefore(env))
  }

  test("bench: an unset SPARK_GRAFT_CPUS means Bench's local[32] (Verify's was local[4])") {
    assert(Regime.bench(Map.empty)("spark.master") == "local[32]")
    assert(verifyBefore(Map.empty)("spark.master") == "local[4]")
  }

  test("jobs: Jobs.session's settings, key for key") {
    def expected(master: String, cpus: String) = Map(
      "spark.master" -> master,
      "spark.app.name" -> "app",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.parquet.compression.codec" -> "zstd",
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
      "spark.sql.codegen.cache.maxEntries" -> "1024")
    assert(Regime.jobs("app", Map.empty) == expected("local[32]", "32"))
    assert(Regime.jobs("app", Map("SPARK_GRAFT_CPUS" -> "6")) == expected("local[6]", "6"))
    assert(Regime.jobs("app", Map("SPARK_GRAFT_CPUS" -> "6", "SPARK_MASTER" -> "local[2]")) ==
      expected("local[2]", "6"))
  }

  test("bench and jobs size the codegen cache to the engine's working set") {
    for (env <- Seq(Map.empty[String, String], Map("SPARK_GRAFT_CPUS" -> "4"))) {
      assert(Regime.bench(env).get("spark.sql.codegen.cache.maxEntries").contains("1024"))
      assert(Regime.jobs("app", env).get("spark.sql.codegen.cache.maxEntries").contains("1024"))
    }
  }

  test("Regime.scala holds the only SparkSession.builder under src/main") {
    val builders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && Files.readString(p).contains("SparkSession.builder"))
      .map(_.toString).toSeq
    assert(builders == Seq("src/main/scala/graft/Regime.scala"))
  }
}
