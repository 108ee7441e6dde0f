package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the session regimes: Verify still plans what it planned before it
  * shared Bench's regime, `Jobs.session` is unchanged, no main builds a
  * session of its own, and no library entry point reaches a native function
  * through the session's function registry. Also pins the library surface
  * to what the engine reaches.
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
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic")
    assert(Regime.jobs("app", Map.empty) == expected("local[32]", "32"))
    assert(Regime.jobs("app", Map("SPARK_GRAFT_CPUS" -> "6")) == expected("local[6]", "6"))
    assert(Regime.jobs("app", Map("SPARK_GRAFT_CPUS" -> "6", "SPARK_MASTER" -> "local[2]")) ==
      expected("local[2]", "6"))
  }

  test("jobs: a blank or whitespace-only SPARK_GRAFT_CPUS or SPARK_MASTER counts as unset") {
    for (blank <- Seq("", " ", "\t ")) {
      val settings = Regime.jobs("app", Map("SPARK_GRAFT_CPUS" -> blank, "SPARK_MASTER" -> blank))
      assert(settings("spark.master") == "local[32]", s"'$blank'")
      assert(settings("spark.sql.shuffle.partitions") == "32", s"'$blank'")
    }
  }

  test("bench and jobs size the codegen cache to the engine's working set") {
    assert(Regime.codegen == Map(
      "spark.sql.codegen.cache.maxEntries" -> "1024",
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.plugins" -> "graft.TaskLoaderPlugin"))
    // Regime.session applies Regime.codegen to every regime; none sets a key of its own
    for (env <- Seq(Map.empty[String, String], Map("SPARK_GRAFT_CPUS" -> "4")))
      for (regime <- Seq(Regime.bench(env), Regime.jobs("app", env), Regime.gendata))
        assert(regime.keySet.intersect(Regime.codegen.keySet).isEmpty, regime)
  }

  /** The files under src/main whose text contains `word`. */
  private def holding(word: String): Seq[String] =
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && Files.readString(p).contains(word))
      .map(_.toString).toSeq

  test("Regime.scala holds the only SparkSession.builder under src/main") {
    assert(holding("SparkSession.builder") == Seq("src/main/scala/graft/Regime.scala"))
  }

  test("native functions reach Columns without a function registry; GraftExtensions holds the SQL names") {
    for (word <- Seq("createOrReplaceTempFunction", "call_function", "RegisterOnce", "getActiveSession"))
      assert(holding(word).isEmpty, s"$word under src/main")
    assert(holding("injectFunction") == Seq("src/main/scala/graft/GraftExtensions.scala"))
  }

  test("a native expression's generated code calls its kernel: no doGenCode under src/main writes a loop") {
    val loops = sources("src/main", ".scala").flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      def indent(l: String) = l.takeWhile(_ == ' ').length
      lines.indices.filter(lines(_).contains("def doGenCode")).collect {
        case i if (lines(i) +: lines.drop(i + 1).takeWhile(l => l.trim.isEmpty ||
            indent(l) > indent(lines(i)))).exists(l => l.contains("for (") || l.contains("while (")) =>
          s"$p:${i + 1}"
      }
    }
    assert(loops.isEmpty, s"a loop in generated code instead of a kernel call: ${loops.mkString(", ")}")
  }

  /** Code text of a source file: block and line comments blanked, so a
    * name mentioned only in documentation counts as unreached. Scala
    * sources also lose the text of their string literals (a function that
    * names itself in its own error message is not reached by that), keeping
    * the `$name` and `${…}` parts of interpolated ones and the method string
    * of a `StaticInvoke(<Object>.getClass, <type>, "<method>", …)` call,
    * which Spark resolves by that name; tool scripts name classes in
    * strings on purpose, so theirs stay. */
  private def code(p: java.nio.file.Path): String = {
    val text = Files.readString(p)
    if (p.toString.endsWith(".scala"))
      (scalaCode(text) +: staticInvoke.findAllMatchIn(text).map(_.group(1)).toSeq).mkString(" ")
    else text.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", "")
  }

  /** The method string of a `StaticInvoke` call (its first string literal). */
  private val staticInvoke = raw"""StaticInvoke\(\s*\w+\.getClass\s*,[^"]*"(\w+)"""".r

  /** `src` with comments, character literals and string-literal text blanked. */
  private def scalaCode(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(j: Int) = if (j < src.length) src.charAt(j) else '\u0000'
    def identChar(c: Char) = c.isLetterOrDigit || c == '_'
    // Code up to the end of `src`, or past the `}` that closes a `${` splice.
    def lexCode(inSplice: Boolean): Unit = {
      var depth = 0
      while (i < src.length) {
        val c = src.charAt(i)
        if (src.startsWith("//", i)) while (i < src.length && src.charAt(i) != '\n') i += 1
        else if (src.startsWith("/*", i)) {
          val end = src.indexOf("*/", i + 2)
          i = if (end < 0) src.length else end + 2
          out += ' '
        } else if (c == '"') lexString(interpolated = i > 0 && identChar(src.charAt(i - 1)))
        else if (c == '\'' && at(i + 1) == '\\') { i = src.indexOf('\'', i + 3) + 1; out += ' ' }
        else if (c == '\'' && at(i + 2) == '\'') { i += 3; out += ' ' }
        else {
          if (c == '{') depth += 1
          if (c == '}' && inSplice && depth == 0) { i += 1; return }
          if (c == '}') depth -= 1
          out += c
          i += 1
        }
      }
    }
    def lexString(interpolated: Boolean): Unit = {
      val triple = src.startsWith("\"\"\"", i)
      i += (if (triple) 3 else 1)
      out += ' '
      var open = true
      while (open && i < src.length) {
        val c = src.charAt(i)
        if (triple && src.startsWith("\"\"\"", i)) {
          i += 3
          while (at(i) == '"') i += 1
          open = false
        } else if (!triple && c == '"') { i += 1; open = false }
        else if (!triple && c == '\\') i += 2
        else if (interpolated && c == '$' && at(i + 1) == '{') {
          i += 2
          out += ' '
          lexCode(inSplice = true)
          out += ' '
        } else if (interpolated && c == '$' && at(i + 1) != '$') {
          i += 1
          out += ' '
          while (i < src.length && identChar(src.charAt(i))) { out += src.charAt(i); i += 1 }
          out += ' '
        } else i += (if (interpolated && c == '$') 2 else 1)
      }
    }
    lexCode(inSplice = false)
    out.toString
  }

  private def sources(dir: String, exts: String*): Seq[java.nio.file.Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && exts.exists(p.toString.endsWith)).toSeq

  /** A definition line: (modifiers, keyword, name). */
  private val definition = (raw"(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|" +
    raw"(?:override|final|implicit|lazy|case|sealed|abstract)\s+)*)" +
    raw"(def|val|object)\s+([A-Za-z_][A-Za-z0-9_]*)").r

  /** Public definitions under src/main/scala/graft (as `File.name`, the
    * object itself as `File`) whose name appears nowhere in the code of
    * src/main, tools/ or perfbench/ beyond its definitions. Overrides and
    * `main` are reached by their callers' types, so they are skipped. */
  private def unreached: Seq[String] = {
    val scope = sources("src/main", ".scala") ++ sources("tools", ".scala", ".py", ".sh") ++
      sources("perfbench", ".scala", ".py", ".sh")
    val texts = scope.map(p => p -> code(p)).toMap
    val named = texts.values.flatMap(raw"[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(_))
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val defs = texts.toSeq.filter(_._1.startsWith(Paths.get("src/main/scala/graft")))
      .flatMap { case (p, t) => definition.findAllMatchIn(t).map(m => (p, m)) }
    val defined = defs.groupBy(_._2.group(3)).view.mapValues(_.size).toMap
    defs.collect { case (p, m) if !m.group(1).matches(".*(private|protected|override).*") &&
        m.group(3) != "main" && named.getOrElse(m.group(3), 0) <= defined(m.group(3)) =>
      val file = p.getFileName.toString.stripSuffix(".scala")
      if (m.group(2) == "object" && m.group(3) == file) file else s"$file.${m.group(3)}"
    }.distinct.sorted
  }

  /** Public definitions kept although nothing in the engine, its tools or
    * the benchmark names them, each with the reason. */
  private val keptUnreached: Map[String, String] = {
    val kernelReference = "declarative form the specs check a compiled kernel against"
    val pinnedOperator = "operator with a spec of its own and no caller yet; " +
      "deleting it also deletes that spec"
    Map(
      "Embeddings.invalidateQuantizers" -> "memo-reset hook the specs call between sessions",
      "ProductQuant.invalidateBooks" -> "memo-reset hook the specs call between sessions",
      "CorpusPipeline.instrumented" -> ("the Observation-tap run record the chain's run " +
        "record is to follow"),
      "CorpusPipeline.frame" -> "the frame of an instrumented run",
      "TextAnalysis.charGrams" -> kernelReference,
      "TextAnalysis.jaccardSets" -> kernelReference,
      "SimHash.simhash32Agg" -> kernelReference,
      "Bootstrap.poissonWeight" -> pinnedOperator)
  }

  test("every public definition under src/main is reached by the engine, a tool or the benchmark") {
    val found = unreached
    val stray = found.filterNot(keptUnreached.contains)
    assert(stray.isEmpty, s"named by nothing in src/main, tools/ or perfbench/: ${stray.mkString(", ")}")
    val reached = keptUnreached.keySet.toSeq.sorted.filterNot(found.contains)
    assert(reached.isEmpty, s"kept as unreached but now reached; drop from the list: ${reached.mkString(", ")}")
  }
}
