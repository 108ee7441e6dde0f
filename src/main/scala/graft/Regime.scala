package graft

import org.apache.spark.sql.SparkSession

/** The session regimes of the engine's mains, each defined once as a plain
  * settings map over the process environment, and the one place that builds
  * a `SparkSession` from them:
  *
  *  - [[bench]]: `graft.Bench`, `graft.Verify` and `graft.tools.Profile` —
  *    the plans the bench times are the plans Verify checks;
  *  - [[jobs]]: the `graft.tpg` CLI mains (`Jobs.session`) and the tools
  *    that drive the pipeline as they do;
  *  - [[gendata]]: `graft.tools.GenData`.
  *
  * The test suites' local[4] session is defined in `SparkSpec`.
  */
object Regime {
  type Env = Map[String, String]

  /** How generated code is compiled and kept, applied by [[session]] to
    * every regime. Fixed settings, no env var or flag:
    *
    *  - `spark.sql.codegen.cache.maxEntries`: Spark's cache of compiled
    *    generated classes, sized to the engine's working set. It is a
    *    per-JVM LRU keyed by the generated source, and a static SQL conf
    *    read once, when the first class is compiled, so it is set at
    *    session build. Spark's default (100 entries) is smaller than one
    *    pass of either benchmark workload, so in a rotating mix the queries
    *    evict each other's classes and every pass pays the Janino compile
    *    plus fresh JIT work again. Measured on a 4-core VM:
    *     - working sets: the perfbench `catalog_mix` set-up plus one pass
    *       (five catalog queries) compiles 113 distinct classes; a
    *       `pipeline_batch` pass plus its checks compiles 203;
    *     - at 100 entries every `catalog_mix` pass recompiled 77–138
    *       classes, and HotSpot JIT was 69% of the pass's CPU (16.9 of
    *       24.5 CPU-s);
    *     - heap: a retained class keeps about 30 KB (172 extra retained
    *       classes added 5 MB), so 1024 entries cap the retained heap near
    *       30 MB while holding several times the largest working set;
    *     - with 1024, a `catalog_mix` pass recompiles 0 classes and its CPU
    *       time drops 28% (10 interleaved pairs: median 21.1 → 15.3 s),
    *       with the same jobs, stages, tasks and shuffle bytes.
    *  - `spark.sql.artifact.isolation.enabled=false` and `spark.plugins` =
    *    [[TaskLoaderPlugin]]: the cache also keys a class on the compiling
    *    thread's class loader, and by default local tasks run under
    *    another loader than the driver's threads, so a task compiles again
    *    each whole-stage class the driver compiled to check its size. With
    *    isolation off, SQL jobs run in the executor's default state (the
    *    engine adds no session jars or artifacts), and the plugin runs each
    *    task under that state's parent loader, the driver's. Together they
    *    cut a cold `pipeline_batch` pass's compiles from 272 to 203 and the
    *    `catalog_mix` set-up's from 152 to 113, with no source compiled
    *    twice; each setting alone changes nothing.
    */
  val codegen: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "1024",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.plugins" -> classOf[TaskLoaderPlugin].getName)

  /** `name` from `vars`, trimmed; `default` when unset or blank. */
  def env(name: String, default: String, vars: Env = sys.env): String =
    vars.get(name).map(_.trim).filter(_.nonEmpty).getOrElse(default)

  def bench(vars: Env): Map[String, String] = {
    def e(name: String, default: String) = env(name, default, vars)
    Map(
      "spark.master" -> s"local[${e("SPARK_GRAFT_CPUS", "32")}]",
      // Partition counts are sized by DATA VOLUME, not core count: at sf0.1
      // every table is ≤11 MB, so 8 slices already puts each task near the
      // ~1 MB scheduling floor — more partitions just buy scheduler
      // overhead (measured: repart/shuffle 8/8 = 8.0s total, 16/8 = 9.2,
      // 32/32 = 15.0). At production scale the same sizing rule
      // (tens-of-MB tasks) yields thousands of partitions and AQE takes
      // over runtime sizing.
      "spark.sql.shuffle.partitions" -> e("SPARK_GRAFT_SHUFFLE", "8"),
      "spark.sql.session.timeZone" -> "UTC",
      // AQE is ON everywhere else in the engine (Jobs, tests):
      // at cluster scale its runtime re-planning (skew joins, partition
      // coalescing) is essential. In this benchmark regime — hundreds of MB
      // per query, sub-second stages — its per-stage materialize-and-
      // re-optimize barrier costs more than it saves (measured +25% on the
      // 55-query catalog; re-measured round 7 at 73 queries: 23.4s vs
      // 16.0s = +46%, the multi-stage similarity/propagation queries pay
      // the barrier most), so the bench defaults it off. Both modes
      // produce identical results.
      "spark.sql.adaptive.enabled" -> e("SPARK_GRAFT_AQE", "false"),
      // Scan parallelism: each harness parquet file is ONE row group, and a
      // row group is parquet's unit of parallel reading — so without help
      // every scan (and the cached relation built from it) is a single
      // task on a 32-core machine. graft.scan.repartition (see
      // Tables.load) re-slices each table right after the scan; with the
      // table cache on, that shuffle is paid once at cache-build time and
      // every query then reads an N-way parallel in-memory table. The
      // repartition perturbs row order, which can change order-sensitive
      // results (collect_list/first, float-sum association) — one more
      // reason Verify runs in this regime.
      "graft.scan.repartition" -> e("SPARK_GRAFT_REPART", "8"),
      "spark.sql.parquet.compression.codec" -> "zstd",
      "spark.ui.enabled" -> "false")
  }

  /** Shared-scan reuse: a resident engine serves repeated queries from its
    * buffer pool; cache the base tables once so per-query timings measure
    * operator cost, not re-parses of the same parquet files (the DuckDB
    * comparison point reads from the OS page cache the same way). Catalyst
    * substitutes the cached InMemoryRelation into every matching subplan.
    */
  def cacheTables(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach { t =>
      val df = if (t == "events") Tables.events(spark, sfDir)
               else Tables.load(spark, sfDir, t)
      df.cache().count()
    }

  def jobs(appName: String, vars: Env): Map[String, String] = {
    val cpus = env("SPARK_GRAFT_CPUS", "32", vars)
    Map(
      "spark.master" -> env("SPARK_MASTER", s"local[$cpus]", vars),
      "spark.app.name" -> appName,
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.parquet.compression.codec" -> "zstd",
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic")
  }

  val gendata: Map[String, String] = Map(
    "spark.master" -> "local[32]",
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.ui.enabled" -> "false")

  /** The session for `settings` (`spark.master` and `spark.app.name`
    * included), with [[codegen]], the engine's SQL function names
    * ([[GraftExtensions]]) and log level WARN. The level is set in the
    * builder, so it holds from the SparkContext's start; only the context's
    * version, OS and Java banner, logged before any conf applies, precede
    * it. */
  def session(settings: Map[String, String]): SparkSession =
    SparkSession.builder().config(settings).config(codegen).config("spark.log.level", "WARN")
      .withExtensions(new GraftExtensions).getOrCreate()
}
