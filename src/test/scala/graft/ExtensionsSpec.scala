package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Salt

class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions registers native functions for SQL use") {
    // a dedicated session so registration comes ONLY from the extension;
    // clear (not stop) any shared session first — getOrCreate would
    // otherwise return it and silently skip withExtensions
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Map(Regime.codegenCache))
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val row = spark.sql(
        """SELECT hamming_distance('abc', 'abd') AS h,
          |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
          |       cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs,
          |       word_shingles('a b c d', 3) AS sh,
          |       minhash_slices(word_shingles('a b c d', 3), 8) AS mh
          |""".stripMargin).collect()(0)
      assert(row.getAs[Int]("h") == 1)
      assert(row.getAs[Double]("dp") == 11.0)
      assert(row.getAs[Double]("cs") == 1.0)
      assert(row.getSeq[String](3) == Seq("a b c", "b c d"))
      assert(row.getSeq[String](4).length == 8)
      assert(row.getSeq[String](4).forall(_.length == 8))
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
    } finally {
      // hand the shared session back without stopping the SparkContext
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
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
    val mis = spark.sql(
      "SELECT squared_l2(array(1.0d, 2.0d), array(1.0d)) AS k").collect()(0)
    assert(mis.isNullAt(0))
    val misF = df.limit(1).select(
      folded(typedLit(Seq(1.0, 2.0)), typedLit(Seq(1.0))).as("f")).collect()(0)
    assert(misF.isNullAt(0))

    // null element → null; empty arrays → 0.0; null input → null
    val edge = spark.sql(
      """SELECT squared_l2(array(1.0d, cast(null as double)), array(1.0d, 2.0d)) AS ne,
        |       squared_l2(cast(array() as array<double>), cast(array() as array<double>)) AS empty,
        |       squared_l2(cast(null as array<double>), array(1.0d)) AS ni
        |""".stripMargin).collect()(0)
    assert(edge.isNullAt(0))
    assert(edge.getDouble(1) == 0.0)
    assert(edge.isNullAt(2))
  }
}

class SaltSpec extends SparkSpec {
  import spark.implicits._

  private val skewed = (1 to 900).map(i => ("hot", i.toLong, 1.0)) ++
    (1 to 100).map(i => (s"k${i % 10}", (1000 + i).toLong, 2.0))

  test("salted aggregation equals plain aggregation") {
    val df = skewed.toDF("k", "id", "v")
    val salted = Salt.saltedCountSum(df, "k", "id", "v", factor = 8)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val plain = df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sum"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(salted.sameElements(plain))
  }

  test("salted join equals plain join") {
    val big = skewed.toDF("k", "id", "v")
    val small = Seq(("hot", "HOT"), ("k1", "K1")).toDF("k", "label")
    val salted = Salt.saltedJoin(big, small, "k", "id", factor = 4)
      .orderBy("id").collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("label")))
    val plain = big.join(small, Seq("k"), "left")
      .orderBy("id").collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("label")))
    assert(salted.sameElements(plain))
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
