package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** One input frame and every native Column helper over it, shared by the
  * SQL-name case and the session-independence case.
  */
object NativeHelpers {

  /** A 32-byte, 7-probe Bloom sketch holding 1, 2 and 3. */
  val sketch: Array[Byte] = {
    val s = new Array[Byte](33)
    s(0) = 7
    Seq(1L, 2L, 3L).foreach(BloomKernels.setBits(s, _))
    s
  }

  def input(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("t", StringType), StructField("a", StringType), StructField("b", StringType),
      StructField("n", StringType),
      StructField("u", ArrayType(DoubleType)), StructField("v", ArrayType(DoubleType)),
      StructField("s1", ArrayType(StringType)), StructField("s2", ArrayType(StringType)),
      StructField("prev", ArrayType(LongType)), StructField("cur", ArrayType(LongType)),
      StructField("bf", BinaryType), StructField("h", LongType), StructField("x", DoubleType)))
    // every non-ASCII codepoint as a \u escape (see the NFC case below)
    val rows = Seq(
      Row("the quick the fox", "martha", "marhta", "Gene\u0301ve", Seq(1.0, 2.0), Seq(3.0, 4.0),
        Seq("a", "b", "c"), Seq("b", "c", "d"), Seq(1L, 2L), Seq(3L, 4L, 5L), sketch, 2L, 1.0),
      Row("a b a c a the", "DWAYNE", "DUANE", "\uFB01n de sie\u0300cle", Seq(0.5, -1.0),
        Seq(2.0, 2.0), Seq("x"), Seq.empty[String], Seq.empty[Long], Seq(5L, 6L), sketch, 99L, 3.0),
      Row("a a a", "DIXON", "DICKSONX", "\u00e9", Seq(3.0), Seq(1.0), Seq("p", "q"), Seq("q"),
        Seq(7L), Seq(8L), sketch, 3L, 2.0))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** (SQL name, SQL form, Column helper) of every scalar SQL name. */
  def scalars: Seq[(String, String, Column)] = Seq(
    ("hamming_distance", "hamming_distance(a, b)", HammingDistance.hamming(col("a"), col("b"))),
    ("jaro_winkler", "jaro_winkler(a, b)", JaroWinklerSim.jaroWinkler(col("a"), col("b"))),
    ("dot_product", "dot_product(u, v)", ArrayMath.dot(col("u"), col("v"))),
    ("cosine_similarity", "cosine_similarity(u, v)", ArrayMath.cosine(col("u"), col("v"))),
    ("squared_l2", "squared_l2(u, v)", ArrayMath.l2sq(col("u"), col("v"))),
    ("word_shingles", "word_shingles(t, 2)", TextExprs.wordShingles(col("t"), 2)),
    ("minhash_slices", "minhash_slices(word_shingles(t, 2), 4)",
      TextExprs.minhashSlices(TextExprs.wordShingles(col("t"), 2), 4)),
    ("minhash_xx", "minhash_xx(word_shingles(t, 2), 4)",
      TextExprs.minhashXx(TextExprs.wordShingles(col("t"), 2), 4)),
    ("simhash32", "simhash32(t)", TextExprs.simhash32(col("t"))),
    ("marker_counts", "marker_counts(t, concat(' the ', chr(0), ' a '))",
      TextExprs.markerCounts(col("t"), Seq(" the ", " a "))),
    ("char_gram_codes", "char_gram_codes(a, 3)", QgramKernels.charGramCodes(col("a"), 3)),
    ("sorted_codes_jaccard", "sorted_codes_jaccard(char_gram_codes(a, 2), char_gram_codes(b, 2))",
      QgramKernels.sortedCodesJaccard(
        QgramKernels.charGramCodes(col("a"), 2), QgramKernels.charGramCodes(col("b"), 2))),
    ("sorted_strings_jaccard", "sorted_strings_jaccard(s1, s2)",
      QgramKernels.sortedStringsJaccard(col("s1"), col("s2"))),
    ("sorted_strings_intersect", "sorted_strings_intersect(s1, s2)",
      QgramKernels.sortedStringsIntersect(col("s1"), col("s2"))),
    ("nfc_normalize", "nfc_normalize(n)", UnicodeNormExprs.nfc(col("n"))),
    ("nfkc_normalize", "nfkc_normalize(n)", UnicodeNormExprs.nfkc(col("n"))),
    ("ewma_block_convolve", "ewma_block_convolve(prev, cur, array(3L, 1L))",
      EwmaKernel.convolve(col("prev"), col("cur"), typedLit(Seq(3L, 1L)))),
    ("bloom_might_contain", "bloom_might_contain(bf, h)",
      BloomSketch.mightContain(col("bf"), col("h"))))

  /** (SQL name, SQL form, Column helper) of every aggregate SQL name. */
  def aggregates: Seq[(String, String, Column)] = Seq(
    ("percentile_array", "percentile_array(x, '0.5,1.0')",
      NativeAgg.percentileArray(col("x"), Seq(0.5, 1.0))),
    ("bloom_agg", "bloom_agg(h, '256,7')", BloomSketch.bloomAgg(col("h"), 256, 7)),
    ("mg_sketch", "mg_sketch(t, 2)", FrequentItems.mgSketch(col("t"), 2)))

  /** Every public native Column helper over [[input]]: the scalar row
    * values, then the one aggregate row. */
  def values(spark: SparkSession, bc: Broadcast[Array[Byte]]): (Seq[Row], Seq[Row]) = {
    val df = input(spark)
    val scalar = scalars.map(_._3) ++ Seq(
      BloomSketch.mightContainBroadcast(bc, col("h")),
      PqKernels.nearestCode(col("u"), Seq((4, Seq(1.0)), (2, Seq(0.0))), 0))
    val agg = aggregates.map(_._3) :+ BloomSketch.bloomAggFor(col("h"), 100)
    (df.select(scalar: _*).collect().toSeq, df.agg(agg.head, agg.tail: _*).collect().toSeq)
  }
}

/** The context class loaders the tasks of one SQL job ran under. */
object TaskLoaders {
  private val seen = new ConcurrentLinkedQueue[ClassLoader]()

  def of(spark: SparkSession): Seq[ClassLoader] = {
    seen.clear()
    spark.range(0, 4, 1, 4).mapPartitions { rows =>
      seen.add(Thread.currentThread.getContextClassLoader)
      rows
    }(Encoders.LONG).collect()
    seen.asScala.toSeq
  }
}

class ExtensionsSpec extends AnyFunSuite {

  /** A dedicated session built by [[Regime.session]], so its SQL names
    * come ONLY from the extension it installs; clear (not stop) any shared
    * session first — getOrCreate would otherwise return it and silently
    * skip the extension.
    */
  private def withExtensionSession(f: SparkSession => Unit): Unit = {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try f(Regime.session(Map(
      "spark.master" -> "local[2]",
      "spark.app.name" -> "graft-ext-test",
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")))
    finally {
      // hand the shared session back without stopping the SparkContext
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("a SQL task runs under the driver thread's class loader, in Regime.session's and SparkSpec's sessions") {
    val driver = Thread.currentThread.getContextClassLoader
    withExtensionSession { spark =>
      val loaders = TaskLoaders.of(spark)
      assert(loaders.size == 4 && loaders.forall(_ eq driver), loaders)
      assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    }
    val loaders = TaskLoaders.of(SparkSpec.session)
    assert(loaders.size == 4 && loaders.forall(_ eq driver), loaders)
  }

  test("GraftExtensions registers native functions for SQL use") {
    withExtensionSession { spark =>
      val row = spark.sql(
        """SELECT hamming_distance('abc', 'abd') AS h,
          |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
          |       cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs,
          |       word_shingles('a b c d', 3) AS sh,
          |       minhash_slices(word_shingles('a b c d', 3), 8) AS mh,
          |       jaro_winkler('martha', 'marhta') AS jw
          |""".stripMargin).collect()(0)
      assert(row.getAs[Int]("h") == 1)
      assert(row.getAs[Double]("dp") == 11.0)
      assert(row.getAs[Double]("cs") == 1.0)
      assert(row.getSeq[String](3) == Seq("a b c", "b c d"))
      assert(row.getSeq[String](4).length == 8)
      assert(row.getSeq[String](4).forall(_.length == 8))
      assert(row.getAs[Double]("jw") == 0.9611111111111111)
      val row2 = spark.sql(
        """SELECT simhash32('the quick fox') AS sh,
          |       marker_counts('the quick the fox', concat(' the ', chr(0), ' a ')) AS mc
          |""".stripMargin).collect()(0)
      assert(row2.getAs[String]("sh").length == 32)
      assert(row2.getAs[String]("sh").forall(c => c == '0' || c == '1'))
      assert(row2.getSeq[Long](1) == Seq(2L, 0L))
      // Unicode normalization (every non-ASCII codepoint as a \u escape so
      // no tool can silently NFC-normalize the test source): combining
      // acute composes under NFC; the fi ligature folds only under NFKC;
      // idempotent; null passthrough
      val un = spark.sql(
        "SELECT nfc_normalize('Gene\u0301ve') AS nfc, " +
          "nfkc_normalize('\uFB01n de sie\u0300cle') AS nfkc, " +
          "nfc_normalize('\uFB01sh') AS keepLig, " +
          "nfc_normalize(nfc_normalize('\u00e9')) AS idem, " +
          "nfc_normalize(CAST(NULL AS STRING)) AS nul").collect()(0)
      assert(un.getAs[String]("nfc") == "Gen\u00e9ve")
      assert(un.getAs[String]("nfc").length == 6) // composed: one char fewer
      assert(un.getAs[String]("nfkc") == "fin de si\u00e8cle")
      assert(un.getAs[String]("keepLig") == "\uFB01sh") // NFC keeps compat chars
      assert(un.getAs[String]("idem") == "\u00e9")
      assert(un.isNullAt(4))
      val agg = spark.sql(
        """SELECT g, percentile_array(v, '0.5,1.0') AS p FROM VALUES
          |  ('a', 1.0d), ('a', 2.0d), ('a', 3.0d), ('b', 10.0d) t(g, v)
          |GROUP BY g ORDER BY g""".stripMargin).collect()
      assert(agg(0).getSeq[Double](1) == Seq(2.0, 3.0))
      assert(agg(1).getSeq[Double](1) == Seq(10.0, 10.0))
      // bloom build + probe, pure SQL: inserted values always hit
      val bloom = spark.sql(
        """WITH s AS (SELECT bloom_agg(xxhash64(x), '256,7') AS bf
          |           FROM VALUES (1L), (2L), (3L) t(x))
          |SELECT bloom_might_contain((SELECT bf FROM s), xxhash64(2L)) AS hit,
          |       bloom_might_contain((SELECT bf FROM s), xxhash64(99L)) AS miss
          |""".stripMargin).collect()(0)
      assert(bloom.getAs[Boolean]("hit"))
      assert(!bloom.getAs[Boolean]("miss"))
    }
  }

  test("every GraftExtensions SQL name resolves and equals its Column helper's value") {
    withExtensionSession { spark =>
      val (scalars, aggregates) = (NativeHelpers.scalars, NativeHelpers.aggregates)
      val names = (scalars ++ aggregates).map(_._1)
      assert(names.size == 21)
      assert(names.sorted == GraftExtensions.functions.map(_._1).sorted)
      val df = NativeHelpers.input(spark)
      assert(df.selectExpr(scalars.map(_._2): _*).collect().toSeq ==
        df.select(scalars.map(_._3): _*).collect().toSeq)
      assert(df.selectExpr(aggregates.map(_._2): _*).collect().toSeq ==
        df.select(aggregates.map(_._3): _*).collect().toSeq)
    }
  }
}

class NativeHelpersSpec extends SparkSpec {

  test("native Column helpers evaluate on a frame of any session, with or without an active one") {
    val bc = spark.sparkContext.broadcast(NativeHelpers.sketch)
    val expected = NativeHelpers.values(spark, bc)
    // a frame of another session while the suite session is active
    SparkSession.setActiveSession(spark)
    assert(NativeHelpers.values(spark.newSession(), bc) == expected)
    // a thread with no active session at all
    var inThread: Try[(Seq[Row], Seq[Row])] = null
    val t = new Thread(() => {
      SparkSession.clearActiveSession()
      inThread = Try(NativeHelpers.values(spark.newSession(), bc))
    })
    t.start()
    t.join()
    assert(inThread.get == expected)
  }

  test("TextExprs.lower/upper equal Spark's lower()/upper(), generated and interpreted") {
    // every non-ASCII codepoint as a \u escape: dotted capital I, sharp s,
    // the title-case digraph Dz, a Greek word ending in sigma, the st ligature
    val words = Seq("Hello, TPG 42!", "\u0130", "\u00df", "\u01c5", "\u039f\u0394\u039f\u03a3",
      "\ufb06", "", null)
    val id = col("id").cast("int")
    // the last row is invalid UTF-8: 0xFF never starts a character
    val s = when(id < words.size, element_at(typedLit(words), id + 1))
      .otherwise(unhex(lit("61FF62")).cast("string"))
    /** The rows of a fresh plan under `confs`. */
    def rows(confs: (String, String)*): Seq[Row] = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try spark.range(0, words.size + 1, 1, 2).select(s.as("s"))
        .select(lower(col("s")), TextExprs.lower(col("s")), upper(col("s")), TextExprs.upper(col("s")))
        .collect().toSeq
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val generated = rows("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val interpreted = rows("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(generated == interpreted)
    assert(generated.size == words.size + 1)
    generated.foreach(r => assert(r.get(0) == r.get(1) && r.get(2) == r.get(3), r))
    // full case maps, final sigma included
    assert(generated.map(_.getString(1)).slice(4, 6) == Seq("\u03bf\u03b4\u03bf\u03c2", "\ufb06"))
    assert(generated.map(_.getString(3)).slice(1, 3) == Seq("\u0130", "SS"))
    assert(generated(7).isNullAt(1) && generated(7).isNullAt(3))
    assert(generated(8).getString(3) == "A\uFFFDB")
  }
}

class NativeCodegenSpec extends SparkSpec {

  /** [[NativeHelpers.input]]'s rows plus the edges: all NULL; empty strings
    * and arrays; NULL array elements with mismatched lengths; a NULL
    * element at equal lengths; signed zeros and a NaN; an infinity facing
    * a NULL element. */
  private def edges(): DataFrame = {
    val base = NativeHelpers.input(spark)
    val rows = Seq(
      Row(Seq.fill(13)(null): _*),
      Row("", "", "", "", Seq.empty[Double], Seq.empty[Double], Seq.empty[String],
        Seq.empty[String], Seq.empty[Long], Seq.empty[Long], NativeHelpers.sketch, 0L, 0.0),
      Row("x  y", "abc", "", "\u00e9", Seq(1.0, null, 3.0), Seq(2.0, 5.0), Seq("a"),
        Seq("a", "b"), Seq(1L), Seq(2L, 3L, 4L, 5L), NativeHelpers.sketch, 3L, 1.0),
      Row(" ", "", "ab", " ", Seq(null, 2.0), Seq(1.0, 2.0), Seq.empty[String], Seq("z"),
        Seq(4L, 5L, 6L), Seq.empty[Long], null, null, null),
      Row("the the", "a", "a", "a", Seq(0.0, -0.0), Seq(-0.0, Double.NaN), Seq("q"), Seq("q"),
        Seq.empty[Long], Seq(7L), NativeHelpers.sketch, 1L, 0.0),
      Row("a", "ab", "ba", "b", Seq(Double.PositiveInfinity, 1.0), Seq(null, 2.0), Seq("b"),
        Seq("a"), Seq(1L, 2L), Seq(3L), NativeHelpers.sketch, 2L, 0.0))
    base.union(spark.createDataFrame(rows.asJava, base.schema))
  }

  private def withConf[T](confs: (String, String)*)(f: => T): T = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("every native expression computes the same rows generated and interpreted, on a parquet scan") {
    val dir = Files.createTempDirectory("graft_native_edges_").resolve("t").toString
    edges().write.parquet(dir)
    val bc = spark.sparkContext.broadcast(NativeHelpers.sketch)
    // every scalar SQL name, the broadcast probe and PQ's nearest code
    val cols = NativeHelpers.scalars.map(_._3) ++ Seq(
      BloomSketch.mightContainBroadcast(bc, col("h")),
      PqKernels.nearestCode(col("u"), Seq((4, Seq(1.0)), (2, Seq(0.0))), 0))
    /** (whether the plan runs whole-stage codegen, the rows) */
    def rows(): (Boolean, Seq[Row]) = {
      val q = spark.read.parquet(dir).select(cols: _*)
      val plan = q.queryExecution.executedPlan
      (plan.exists(_.isInstanceOf[WholeStageCodegenExec]), q.collect().toSeq)
    }
    // a class that fails to compile fails the query instead of falling back
    val (wholeStage, generated) = withConf("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(rows())
    val (noWholeStage, interpreted) = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(rows())
    assert(wholeStage && !noWholeStage)
    assert(generated.size == 9)
    assert(generated == interpreted)
    // toString tells -0.0 from 0.0, which Row equality does not
    assert(generated.map(_.toString) == interpreted.map(_.toString))
  }

  test("a kernel call fails analysis on an uncastable argument, checks its literals when built, " +
    "and is nullable only over nullable inputs") {
    val df = NativeHelpers.input(spark)
    // no implicit cast turns array<string> into the kernel's string
    val e = intercept[AnalysisException](df.select(HammingDistance.hamming(col("s1"), col("s2"))))
    assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
    intercept[IllegalArgumentException](QgramKernels.charGramCodes(col("a"), 5))
    intercept[IllegalArgumentException](TextExprs.minhashSlices(col("s1"), 6))
    val strict = spark.createDataFrame(df.rdd, StructType(df.schema.map(_.copy(nullable = false))))
    def nullable(frame: DataFrame) =
      NativeHelpers.scalars.map { case (name, _, c) => name -> frame.select(c).schema.head.nullable }
    // squared_l2 is NULL on a length mismatch or a NULL element, whatever its inputs
    assert(nullable(strict) == NativeHelpers.scalars.map(s => s._1 -> (s._1 == "squared_l2")))
    assert(nullable(df).forall(_._2))
  }
}

class SortedStringsIntersectSpec extends SparkSpec {
  import graft.functions.QgramKernels

  test("sorted_strings_intersect ≡ size(array_intersect) on sorted-distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def set() = Seq.fill(rnd.nextInt(30))(s"t${rnd.nextInt(40)}").distinct.sorted
    val rows = (1 to 80).map(_ => (set(), set())) :+
      ((Seq.empty[String], Seq("a", "b"))) :+ ((Seq.empty[String], Seq.empty[String]))
    val df = rows.toDF("a", "b")
    val both = df.select(
      QgramKernels.sortedStringsIntersect(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("s")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}

class SquaredL2Spec extends SparkSpec {
  import graft.functions.ArrayMath

  /** The interpreted formulation squared_l2 replaces (ProductQuant's hot
    * path): its zip_with null-padding + fold poisoning define the kernel's
    * contract — any divergence here is a silent distance corruption.
    */
  private def folded = {
    import org.apache.spark.sql.Column
    (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
  }

  test("squared_l2 kernel ≡ interpreted zip_with fold, incl. null semantics") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { i =>
      (Seq.fill(16)(rnd.nextDouble() * 20 - 10),
        Seq.fill(16)(rnd.nextDouble() * 20 - 10))
    }
    val df = rows.toDF("a", "b")
      .select(col("a").cast("array<double>").as("a"),
        col("b").cast("array<double>").as("b"))
    val both = df.select(
      ArrayMath.l2sq(col("a"), col("b")).as("k"),
      folded(col("a"), col("b")).as("f")).collect()
    // bit-identical, not approximately equal: same ascending IEEE fold
    both.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))

    // length mismatch → null on both forms (zip_with null-pad poisons)
    val mis = df.limit(1).select(
      ArrayMath.l2sq(array(lit(1.0), lit(2.0)), array(lit(1.0))).as("k")).collect()(0)
    assert(mis.isNullAt(0))
    val misF = df.limit(1).select(
      folded(typedLit(Seq(1.0, 2.0)), typedLit(Seq(1.0))).as("f")).collect()(0)
    assert(misF.isNullAt(0))

    // null element → null; empty arrays → 0.0; null input → null
    val empty = array().cast("array<double>")
    val edge = df.limit(1).select(
      ArrayMath.l2sq(array(lit(1.0), lit(null).cast("double")), array(lit(1.0), lit(2.0))).as("ne"),
      ArrayMath.l2sq(empty, empty).as("empty"),
      ArrayMath.l2sq(lit(null).cast("array<double>"), array(lit(1.0))).as("ni")).collect()(0)
    assert(edge.isNullAt(0))
    assert(edge.getDouble(1) == 0.0)
    assert(edge.isNullAt(2))
  }
}

class PqNearestCodeSpec extends SparkSpec {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** The composite pq_nearest_code replaces (ProductQuant.assign's former
    * body): slice + interpreted fold per candidate + struct array_min.
    * Its tie/NaN/degenerate conventions define the kernel's contract.
    */
  private def composite(vec: Column, cands: Seq[(Int, Seq[Double])],
      s: Int, subDim: Int): Column = {
    val sub = slice(vec, s * subDim + 1, subDim)
    val structs = cands.map { case (code, c) =>
      struct(
        aggregate(zip_with(sub, typedLit(c), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v).as("d"),
        lit(code).as("code"))
    }
    array_min(array(structs: _*)).getField("code")
  }

  test("pq_nearest_code ≡ slice+fold+struct-argmin composite, incl. edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val subDim = 4
    val m = 2
    // non-contiguous, shuffled code ids: the kernel must reproduce the
    // struct min's lowest-code tie-break regardless of candidate order
    val cands: Seq[(Int, Seq[Double])] = Seq(7, 2, 11, 5)
      .map(code => (code, Seq.fill(subDim)(rnd.nextDouble() * 4 - 2)))
    val rows = (1 to 60).map(_ => Seq.fill(subDim * m)(rnd.nextDouble() * 4 - 2))
    // duplicate centroids force distance ties; NaN/short/null-element edges
    val tieCands = Seq((9, cands(1)._2), (3, cands(1)._2), (6, cands(0)._2))
    val edgeRows = Seq(
      Seq.fill(subDim * m)(Double.NaN),                  // all-NaN distances
      Seq.fill(subDim)(0.5),                             // short vector
      Seq.empty[Double])                                 // empty vector
    val df = (rows ++ edgeRows).toDF("vec")
      .select(col("vec").cast("array<double>").as("vec"))
    for (s <- 0 until m; cs <- Seq(cands, tieCands)) {
      val both = df.select(
        graft.functions.PqKernels.nearestCode(col("vec"), cs, s * subDim).as("k"),
        composite(col("vec"), cs, s, subDim).as("c")).collect()
      both.foreach(r => assert(r.getInt(0) == r.getInt(1),
        s"s=$s cands=${cs.map(_._1)} kernel=${r.getInt(0)} composite=${r.getInt(1)}"))
    }
    // null-element and NULL-vector degenerates: composite falls through to
    // the lowest code id, never NULL
    val edge = Seq(
      (Some(Seq(Some(1.0), None, Some(0.0), Some(2.0), Some(0.1), Some(0.2),
        Some(0.3), Some(0.4)))),
      (None: Option[Seq[Option[Double]]])
    ).toDF("vec").select(col("vec").cast("array<double>").as("vec"))
    val eb = edge.select(
      graft.functions.PqKernels.nearestCode(col("vec"), cands, 0).as("k"),
      composite(col("vec"), cands, 0, subDim).as("c")).collect()
    eb.foreach { r =>
      assert(!r.isNullAt(0) && r.getInt(0) == 2)
      assert(!r.isNullAt(1) && r.getInt(1) == 2)
    }
  }
}
