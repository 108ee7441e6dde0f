package graft

import java.io.File

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.util.{ChildFirstURLClassLoader, MutableURLClassLoader}

/** Generated code is compiled once per JVM and then reused: a local task
  * reuses the class the driver compiled, and a rotating mix of queries must
  * not evict each other's classes from Spark's codegen cache, however many
  * it holds between repeats.
  */
class CodegenReuseSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def runAll(names: Seq[String]): Map[String, Long] = names.map { n =>
    n -> compiles(queries.Catalog.named(n).run(spark, sf)
      .write.format("noop").mode("overwrite").save())
  }.toMap

  test("catalog_mix's five queries compile nothing when run again in another order") {
    val mix = Seq("q85_perplexity_gate", "q96_trigram_backoff", "q125_setsim_join",
      "q07_dedupe_priority", "q09_asof_join")
    runAll(mix)
    val second = runAll(mix.drop(2) ++ mix.take(2))
    assert(second.values.sum == 0, second)
  }

  test("150 projections differing only in an inlined literal compile nothing when rerun") {
    def round(): Long = compiles((1 to 150).foreach { i =>
      spark.range(10).select(col("id") + lit(i)).write.format("noop").mode("overwrite").save()
    })
    // more distinct classes than Spark's default cache (100 entries) holds
    assert(round() > 100)
    assert(round() == 0)
  }

  test("a fresh one-stage query compiles one class: its four tasks reuse the driver's") {
    val n = compiles(spark.range(0, 1000, 1, 4).select(col("id") * lit(104729L))
      .write.format("noop").mode("overwrite").save())
    assert(n == 1)
  }

  test("TaskLoaderPlugin.taskLoader: a URL-less MutableURLClassLoader gives its parent, others themselves") {
    val parent = getClass.getClassLoader
    assert(TaskLoaderPlugin.taskLoader(new MutableURLClassLoader(Array.empty, parent)) eq parent)
    val withUrl = new MutableURLClassLoader(Array(new File("lib.jar").toURI.toURL), parent)
    assert(TaskLoaderPlugin.taskLoader(withUrl) eq withUrl)
    val childFirst = new ChildFirstURLClassLoader(Array.empty, parent)
    assert(TaskLoaderPlugin.taskLoader(childFirst) eq childFirst)
    assert(TaskLoaderPlugin.taskLoader(parent) eq parent)
  }
}
