package graft

import org.apache.spark.sql.functions._
import graft.operators.{Fingerprint, Hll}

/** Dataset fingerprinting and the deterministic HLL sketch. */
class CardinalitySpec extends SparkSpec {
  import spark.implicits._

  test("fingerprint: order- and partitioning-independent, content-sensitive") {
    val rows = (1 to 300).map(i => (s"src${i % 3}", i.toLong, s"text-$i"))
    val a = rows.toDF("source", "id", "text")
    val b = scala.util.Random.shuffle(rows).toDF("source", "id", "text").repartition(11)
    def fp(df: org.apache.spark.sql.DataFrame) =
      Fingerprint.datasetFingerprint(df, Seq("source"), Seq("id", "text"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(fp(a) == fp(b))
    // a single changed character changes the group's digest
    val c = rows.map { case (s, i, t) => if (i == 7L) (s, i, t + "!") else (s, i, t) }
      .toDF("source", "id", "text")
    val fa = fp(a); val fc = fp(c)
    assert(fa("src1") != fc("src1"))
    assert(fa("src0") == fc("src0") && fa("src2") == fc("src2"))
  }

  test("fingerprint: shard merge law (xor of xors, sum of sums)") {
    val all = (1 to 100).map(i => ("g", i.toLong, s"t$i"))
    val (s1, s2) = all.splitAt(37)
    def one(rows: Seq[(String, Long, String)]) =
      Fingerprint.datasetFingerprint(rows.toDF("g", "id", "t"), Seq("g"), Seq("id", "t"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    val (n1, x1, m1) = one(s1); val (n2, x2, m2) = one(s2)
    val (n, x, m) = one(all)
    assert(n == n1 + n2 && x == (x1 ^ x2) && m == m1 + m2)
  }

  test("fingerprint: duplicated row pair caught by sum when xor cancels") {
    val base = Seq(("g", 1L, "a"), ("g", 2L, "b"))
    val dup = base ++ Seq(("g", 1L, "a"), ("g", 1L, "a")) // row 1 now x3
    def one(rows: Seq[(String, Long, String)]) =
      Fingerprint.datasetFingerprint(rows.toDF("g", "id", "t"), Seq("g"), Seq("id", "t"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    val (_, xb, sb) = one(base); val (_, xd, sd) = one(dup)
    assert(xb == xd) // xor annihilates the even extra copies…
    assert(sb != sd) // …the sum component does not
  }

  test("hll: estimate within theoretical error of exact, sketch bounded") {
    val df = (1 to 20000).map(i => ("g", s"item${i % 5000}")).toDF("g", "v")
    val sk = Hll.sketch(df, Seq("g"), "v", b = 8)
    assert(sk.count() <= 256)
    val est = Hll.estimate(sk, Seq("g"), b = 8).head.getDouble(1)
    // m=256 → stderr ~6.5%; 3 sigma ≈ 20%
    assert(math.abs(est - 5000) / 5000.0 < 0.2, s"est $est too far from 5000")
  }

  test("hll: small-range linear counting kicks in and is near-exact") {
    val df = (1 to 10).map(i => ("g", s"v$i")).toDF("g", "v")
    val est = Hll.estimate(Hll.sketch(df, Seq("g"), "v"), Seq("g")).head.getDouble(1)
    // 10 distinct into 256 registers: linear counting is near-exact
    assert(math.abs(est - 10.0) < 1.0, s"linear-counting estimate $est")
  }

  test("hll: merge law — union of sketches ≡ sketch of union") {
    val a = (1 to 3000).map(i => ("g", s"a$i")).toDF("g", "v")
    val b = (2000 to 5000).map(i => ("g", s"a$i")).toDF("g", "v")
    val merged = Hll.sketch(a, Seq("g"), "v").union(Hll.sketch(b, Seq("g"), "v"))
      .groupBy("g", "bucket").agg(max("m_rank").as("m_rank"))
    val direct = Hll.sketch(a.union(b), Seq("g"), "v")
    val mm = merged.collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    val dd = direct.collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    assert(mm == dd)
    val estM = Hll.estimate(merged, Seq("g")).head.getDouble(1)
    val estD = Hll.estimate(direct, Seq("g")).head.getDouble(1)
    assert(estM == estD)
  }

  test("hll: sketchTagged one-pass registers ≡ per-subset sketch + merge") {
    // A = t1…t4000, B = t3001…t7000 — the q162 shape: one fused fold must
    // reproduce the separate A/B sketches and the merged union registers
    val df = ((1 to 4000).map(i => ("g", s"t$i", 0)) ++
      (3001 to 7000).map(i => ("g", s"t$i", 1))).toDF("g", "v", "p")
    val regs = Hll.sketchTagged(df, Seq("g"), "v",
      Seq("ra" -> (col("p") === 0), "rb" -> (col("p") === 1),
        "ru" -> lit(true)))
    def regSet(c: String) = regs.filter(col(c).isNotNull)
      .collect().map(r => (r.getLong(1), r.getAs[Int](c))).toSet
    val a = df.filter(col("p") === 0)
    val b = df.filter(col("p") === 1)
    def skSet(d: org.apache.spark.sql.DataFrame) =
      Hll.sketch(d, Seq("g"), "v").collect()
        .map(r => (r.getLong(1), r.getInt(2))).toSet
    assert(regSet("ra") == skSet(a))
    assert(regSet("rb") == skSet(b))
    assert(regSet("ru") == skSet(df))
    // estimate components fold identically through the shared formula
    val est = regs.groupBy(col("g")).agg(
        count(col("ru")).as("nz"), sum(Hll.pow2negExpr("ru")).as("s"))
      .select(Hll.estimateExpr(col("nz"), col("s"), 8)).head.getDouble(0)
    val ref = Hll.estimate(Hll.sketch(df, Seq("g"), "v"), Seq("g"))
      .head.getDouble(1)
    assert(est == ref)
  }

  test("hll: deterministic under repartitioning (bit-identical estimate)") {
    val df = (1 to 4000).map(i => (s"g${i % 2}", s"x$i")).toDF("g", "v")
    val e1 = Hll.estimate(Hll.sketch(df, Seq("g"), "v"), Seq("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val e2 = Hll.estimate(Hll.sketch(df.repartition(17), Seq("g"), "v"), Seq("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(e1 == e2)
  }
}
