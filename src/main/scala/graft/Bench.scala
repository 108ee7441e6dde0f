package graft

import scala.util.control.NonFatal

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and prints
  * one JSON line. The noop sink forces full materialization of every result
  * row (unlike `count()`, which lets Catalyst prune aggregates), so timings
  * reflect real end-to-end execution.
  */
object Bench {
  private def env(name: String, default: String): String = Regime.env(name, default)

  /** JSON string literal with a full escape (backslash, quote, and ALL
    * control chars): exception messages can carry \r or \t past the
    * first-line truncation, which would make the output line invalid JSON.
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = env("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val benchOut = env("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = Regime.session(Regime.bench(sys.env))

    // Warm the JVM/codegen once on the smallest SF so per-query timings
    // measure execution, not first-call classloading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    if (env("SPARK_GRAFT_CACHE", "true").toBoolean) Regime.cacheTables(spark, sfDir)

    // Optional iteration aid: SPARK_GRAFT_ONLY=q24_minhash_lsh,q25_simhash
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.trim.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)

    // Warm pass: run every query once untimed before timing it, so the
    // timed loop measures steady-state operator cost — codegen classes are
    // compiled, JIT profiles hot, model artifacts (IVF quantizers) trained.
    // This is the regime a resident engine serves; without it each timing
    // is dominated by one-time janino/JIT compilation, which the DuckDB
    // comparison point (no codegen) never pays.
    val warmDir = env("SPARK_GRAFT_WARM_DIR", sfDir)
    if (warmDir != "off") {
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      // settle before timing: collect the warm pass's garbage now instead
      // of during the first timed query
      System.gc()
      Thread.sleep(1000)
    }

    // Per-query time = min over N BACK-TO-BACK executions (default 5; was
    // 3 through r4). Two measured negative results shaped this loop:
    //  - r4's driver run showed phantom 0.3-0.5s spikes (q05/q09/q03) no
    //    re-run reproduced — with sub-0.2s queries a single GC/scheduler
    //    stall poisons a min-of-3 far more often than a min-of-5, hence 5
    //    runs plus the per-query settle below.
    //  - An interleaved variant (N full passes over the query list, min
    //    per query across passes) measured 2-4× WORSE per query: repeated
    //    back-to-back execution is exactly what keeps a query's cached
    //    relation blocks / codegen classes hot in CPU cache, and running
    //    54 other queries between samples evicts that state. Steady-state
    //    per-operator cost — the thing this bench measures — is the
    //    back-to-back number, which is also DuckDB's convention in
    //    tools/duck_bench.py.
    // Residual cross-INVOCATION drift (three r5 totals: 6.6/8.7/8.9s,
    // uniform per-query inflation under identical binaries) is host
    // frequency/steal on this VM, outside the process's control; compare
    // engines only within one machine session, never across rounds.
    // A failed build or execution is NOT timed: the query lands in
    // `errors` instead of the results map, and the bench exits nonzero,
    // so a broken query can never masquerade as a fast one.
    val runsPer = env("SPARK_GRAFT_RUNS", "5").toInt
    // Eager-rebuild queries re-pay artifact construction inside every timed
    // iteration by design, so a single host-noise stall (GC, scheduler,
    // frequency steal) inflates a far larger per-sample cost — measured
    // r13 swing on q116 was 0.54–1.01 s across driver invocations while a
    // quiet session sat at 0.55 s. More samples tighten the min estimator
    // exactly where the per-sample variance is largest.
    val runsEager = env("SPARK_GRAFT_RUNS_EAGER", "9").toInt
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def fail(name: String, stage: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n')
      errors.getOrElseUpdate(name, s"$stage: $msg")
      System.err.println(s"[bench] $name failed ($stage): $msg")
    }
    // Timing convention, two regimes:
    //  - Default (lazy builders): one Dataset per query, timed loop measures
    //    optimization + execution — a resident engine serving a prepared
    //    statement. (Rebuilding per run was measured: it adds a uniform
    //    60–150 ms of Spark analysis overhead to every query, +7s on the
    //    62-query total, without changing any plan — noise, not signal.)
    //  - Eager builders (Catalog.eagerBuildQueries, e.g. q61's label
    //    propagation runs driver-side actions at build time): the build IS
    //    the computation, so each timed run rebuilds the DataFrame inside
    //    the timer — the DuckDB twin re-pays its recursive CTE every
    //    execution, and excluding the Spark-side work would fake the ratio.
    //    Deliberate exception, documented where it lives: memoized MODEL
    //    artifacts (the IVF quantizer) survive across builds — artifact
    //    reuse is the serving regime, and the warm pass trains them before
    //    any timing.
    val eager = graft.queries.Catalog.eagerBuildQueries
    // Per-query warm barrier (the r12 driver-bench-vs-session drift fix):
    // the global warm pass ran long before a given query's timed loop, with
    // ~220 other plans in between — codegen/JIT state for THIS query's path
    // is cold again by the time its loop starts, and EAGER queries (whose
    // rebuild IS the computation) were measured to need several rebuilds to
    // reach steady state (q97: 1.9 → 1.5 → 1.2 s over the first rebuilds of
    // a session, settling ~0.9). So immediately before timing: one untimed
    // settle execution for every query, plus SPARK_GRAFT_EAGER_WARM (default
    // 2) extra untimed rebuilds for eager ones — the timed min-of-N then
    // samples the same steady-state regime a resident session reports.
    val eagerWarm = env("SPARK_GRAFT_EAGER_WARM", "2").toInt
    val results = selected.flatMap { case (name, fn) =>
      // untimed probe build: classifies build failures as "build" (and
      // skips the timed loop) so they can't masquerade as exec failures
      val probe = try Some(fn(spark, sfDir)) catch { case e: Throwable =>
        fail(name, "build", e); None
      }
      val warmed = probe.map { prebuilt =>
        try {
          prebuilt.write.format("noop").mode("overwrite").save()
          if (eager.contains(name)) (1 to eagerWarm).foreach { _ =>
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
        } catch { case NonFatal(_) => () } // failures re-surface timed;
        // fatal JVM errors (OOM, interrupt) propagate — after an
        // executor-poisoning OOM the timed loop's numbers would be lies
        prebuilt
      }
      // settle before each query's timed loop: collect the warm/previous
      // garbage NOW so a deferred GC cannot land inside a timed run
      System.gc()
      Thread.sleep(100)
      val times = warmed.toSeq.flatMap { prebuilt =>
        val n = if (eager.contains(name)) runsEager else runsPer
        (1 to n).flatMap { _ =>
          val t0 = System.nanoTime()
          try {
            val d = if (eager.contains(name)) fn(spark, sfDir) else prebuilt
            d.write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable => fail(name, "exec", e); None }
        }
      }
      if (times.nonEmpty) Some(name -> times.min) else None
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // Twin-less production-family line, OUTSIDE the oracle total: the Xx
    // MinHash family (seeded XXH64 signatures, xxhash64 band keys) has no
    // DuckDB twin — DuckDB 1.0 ships no xxhash64 SQL function — so it can
    // never join the oracle-checked catalog, but its perf should move with
    // the same per-round scrutiny as the md5 family it replaces in
    // production. Timed with the identical warm + min-of-N regime; the
    // verified-pair counts of both families ride along as a standing
    // self-consistency signal (equal-corpus counts should track closely —
    // banding recall differs only on threshold-marginal pairs).
    val extra: Option[(Double, Long, Long)] =
      if (only.isDefined) None // focused runs skip the standing extra line
      else try {
        import graft.llm.MinHashLsh
        def verified(cfg: MinHashLsh.Config) = MinHashLsh
          .nearDupPairs(Tables.documents(spark, sfDir), "doc_id", "text", cfg)
          .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.5)
        val xx = verified(MinHashLsh.Config(hashFamily = MinHashLsh.Xx))
        xx.write.format("noop").mode("overwrite").save() // warm
        val ts = (1 to runsPer).map { _ =>
          val t0 = System.nanoTime()
          xx.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        Some((ts.min, xx.count(), verified(MinHashLsh.Config()).count()))
      } catch { case e: Throwable => fail("x_minhash_xx", "extra", e); None }
    val extraJson = extra.fold("{}") { case (s, nXx, nMd5) =>
      f"""{"x_minhash_xx":$s%.3f,"xx_pairs":$nXx,"md5_pairs":$nMd5}"""
    }
    // errors is serialized AFTER the extra block: a failure recorded there
    // must appear in the emitted JSON, not just in the exit code — a
    // monitoring consumer parsing the line sees the same story the process
    // status tells.
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")

    // The driver's stdout capture keeps only the TAIL of long lines
    // (BENCH_r08/r09 lost the head: q01–q27 and the leading total). Two
    // defenses: (1) the full JSON is ALSO written to a file — the complete
    // machine-readable artifact regardless of any capture window; (2) the
    // printed line duplicates "total" and the file pointer at its END, so
    // a tail-truncated capture still carries both.
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errs,"extra":$extraJson,"sf":"$sfDir","bench_file":${jstr(benchOut)},"total":$total%.3f}"""
    try {
      val p = java.nio.file.Paths.get(benchOut)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $benchOut: ${e.getMessage}")
    }
    println(line)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
