package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for SCALE sessions above the
  * driver-provided sf0.1 (TESTDATA.md caps there; the ratio-vs-SF story
  * needs sf1). Mirrors the driver tables' schemas, ranges and
  * distributions (profiled from `/root/testdata/sf0.1` via DuckDB:
  * row-count ratios, 31-word shared vocab, 10–100-word docs, 5 langs at
  * ~41% en, 20 uniform sources, ~0.2% exact-dup and ~3% near-dup docs,
  * 64-dim 10-cluster embeddings, 30-day event window over sf·15000
  * users) WITHOUT copying any driver bytes — every value is a pure
  * hash-derived function of its row id (xxhash64; no RNG state), so the
  * output is reproducible and generation is fully distributed (one
  * `spark.range` per table, no driver-side loops).
  *
  * Usage: `runMain graft.tools.GenData <outDir> <sf>` — sf scales row
  * counts linearly off the sf=1 shape (lineitem 6M, orders 1.5M,
  * documents 50k, events 1M, embeddings 20k).
  *
  * NOT part of the library surface (a tool, like [[Profile]]); writes
  * only under the given outDir.
  */
object GenData {

  /** uniform [0, 1) double from (salt, id) — xxhash64 folded positive */
  private def u(salt: String, id: Column): Column =
    (pmod(xxhash64(lit(salt), id), lit(1000000007L)).cast("double") /
      lit(1000000007.0))

  /** uniform integer in [0, n) from (salt, id) */
  private def h(salt: String, id: Column, n: Int): Column =
    pmod(xxhash64(lit(salt), id), lit(n.toLong)).cast("int")

  private val vocab = Seq(
    "spark", "part", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "a", "hash", "slow", "group", "batch", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "vector", "join", "customer", "the", "tiny")

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = args.lift(1).map(_.toDouble).getOrElse(1.0)
    val spark = graft.Regime.session(graft.Regime.gendata)
    import spark.implicits._

    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[gendata] wrote $name")
    }

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(regions.zipWithIndex
      .map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name"), "region", 1)
    write(spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      h("nat", col("id"), 5).as("n_regionkey")), "nation", 1)

    val nCust = n(150000L)
    val nSupp = n(10000L)
    val nPart = n(200000L)
    val nOrd = n(1500000L)
    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    write(spark.range(1, nCust + 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), format_string("%09d", col("id"))).as("c_name"),
      h("cnat", col("id"), 25).as("c_nationkey"),
      (floor((u("cbal", col("id")) * 10999.98 - 999.99) * 100) / 100)
        .as("c_acctbal"),
      element_at(segs, h("cseg", col("id"), 5) + 1).as("c_mktsegment")),
      "customer", 8)
    write(spark.range(1, nSupp + 1).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), format_string("%09d", col("id"))).as("s_name"),
      h("snat", col("id"), 25).as("s_nationkey"),
      (floor((u("sbal", col("id")) * 10999.98 - 999.99) * 100) / 100)
        .as("s_acctbal")), "supplier", 4)
    val types = array(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
      "PROMO").map(lit): _*)
    val mats = array(Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER").map(lit): _*)
    write(spark.range(1, nPart + 1).select(
      col("id").as("p_partkey"),
      concat(element_at(mats, h("pn1", col("id"), 5) + 1), lit(" part "),
        col("id")).as("p_name"),
      concat(lit("Brand#"), (h("pb", col("id"), 5) + 1),
        (h("pb2", col("id"), 5) + 1)).as("p_brand"),
      concat(element_at(types, h("pt", col("id"), 6) + 1), lit(" "),
        element_at(mats, h("pt2", col("id"), 5) + 1)).as("p_type"),
      (h("psz", col("id"), 50) + 1).as("p_size"),
      (floor((lit(900.0) + (col("id") % 1000) + u("ppr", col("id")) * 100)
        * 100) / 100).as("p_retailprice")), "part", 4)

    // orders over the driver's 1995-01-01 .. 2001-08-01 window
    val day = 86400L
    val ordBase = lit(java.time.LocalDate.parse("1995-01-01")
      .toEpochDay * day)
    val ordSpanDays = 2404 // days to 2001-08-01
    val statuses = array(Seq("F", "O", "P").map(lit): _*)
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    val orders = spark.range(1, nOrd + 1).select(
      col("id").as("o_orderkey"),
      (h("ocust", col("id"), nCust.toInt) + 1).cast("long").as("o_custkey"),
      element_at(statuses, h("ost", col("id"), 3) + 1).as("o_orderstatus"),
      (floor((lit(1000.0) + u("otot", col("id")) * 450000.0) * 100) / 100)
        .as("o_totalprice"),
      timestamp_seconds(ordBase +
        h("odat", col("id"), ordSpanDays).cast("long") * day)
        .cast("timestamp_ntz").as("o_orderdate"),
      element_at(prios, h("opri", col("id"), 5) + 1).as("o_orderpriority"),
      (h("onl", col("id"), 7) + 1).as("__nlines"))
    write(orders.drop("__nlines"), "orders", 8)

    val rflags = array(Seq("A", "N", "R").map(lit): _*)
    val li = orders.select(col("o_orderkey"), col("o_orderdate"),
        col("__nlines"),
        explode(sequence(lit(1), col("__nlines"))).as("l_linenumber"))
      .withColumn("__lid",
        col("o_orderkey") * 10 + col("l_linenumber"))
      .select(
        col("o_orderkey").as("l_orderkey"),
        (h("lpart", col("__lid"), nPart.toInt) + 1).cast("long").as("l_partkey"),
        (h("lsupp", col("__lid"), nSupp.toInt) + 1).cast("long").as("l_suppkey"),
        col("l_linenumber"),
        (h("lqty", col("__lid"), 50) + 1).cast("double").as("l_quantity"),
        (floor((lit(900.0) + u("lpr", col("__lid")) * 104000.0) * 100) / 100)
          .as("l_extendedprice"),
        (h("ldis", col("__lid"), 11).cast("double") / 100).as("l_discount"),
        (h("ltax", col("__lid"), 9).cast("double") / 100).as("l_tax"),
        element_at(rflags, h("lrf", col("__lid"), 3) + 1).as("l_returnflag"),
        when(h("lls", col("__lid"), 2) === 0, "F").otherwise("O")
          .as("l_linestatus"),
        (col("o_orderdate").cast("timestamp")
          + make_dt_interval(h("lsd", col("__lid"), 95).cast("long") + 1))
          .cast("timestamp_ntz").as("l_shipdate"))
    write(li, "lineitem", 16)

    // events: 30-day window, sf·15000 users, ~66 events/user
    val nEv = n(1000000L)
    val nUsers = n(15000L).toInt
    val evBase = lit(java.time.LocalDate.parse("2024-01-01")
      .toEpochDay * day)
    val etypes = array(Seq("click", "error", "purchase", "signup", "view")
      .map(lit): _*)
    write(spark.range(1, nEv + 1).select(
      col("id").as("event_id"),
      timestamp_seconds(evBase.cast("double") +
        u("ets", col("id")) * (30 * day) +
        u("ets2", col("id"))).as("ts"),
      (h("euser", col("id"), nUsers) + 1).cast("long").as("user_id"),
      element_at(etypes, h("etyp", col("id"), 5) + 1).as("event_type"),
      when(h("enul", col("id"), 50) === 0, lit(null).cast("double"))
        .otherwise(floor(u("eval", col("id")) * u("eval2", col("id"))
          * 10000000) / 10000).as("value"),
      concat(lit("{\"k\": "), h("eprop", col("id"), 100), lit("}"))
        .as("props")), "events", 8)

    // documents: 31-word vocab, 10-100 words, near-dup + exact-dup tails
    val nDoc = n(50000L)
    val vb = array(vocab.map(lit): _*)
    val langs = array(Seq("en", "en", "de", "es", "fr", "zh").map(lit): _*)
    val docs0 = spark.range(1, nDoc + 1).select(col("id").as("doc_id"))
      // dup class: 0.2% exact copy of doc_id−1, 3% near-dup of doc_id−1
      // (every ~33rd word swapped), else original
      .withColumn("__cls", when(h("dcls", col("doc_id"), 500) === 0, 2)
        .when(h("dcls2", col("doc_id"), 33) === 0, 1).otherwise(0))
      .withColumn("__src",
        when(col("__cls") > 0 && col("doc_id") > 1, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("__len", h("dlen", col("__src"), 91) + 10)
      .withColumn("__words", transform(
        sequence(lit(1), col("__len")),
        j => element_at(vb,
          pmod(xxhash64(lit("dw"), col("__src"), j), lit(31L)).cast("int")
            + 1)))
      .withColumn("__mut", when(col("__cls") === 1, transform(
        col("__words"),
        (w, j) => when(
          pmod(xxhash64(lit("dmut"), col("doc_id"), j), lit(33L)) === 0,
          element_at(vb,
            pmod(xxhash64(lit("dmw"), col("doc_id"), j), lit(31L)).cast("int")
              + 1)).otherwise(w))).otherwise(col("__words")))
    write(docs0.select(
      col("doc_id"),
      array_join(col("__mut"), " ").as("text"),
      element_at(langs, h("dlang", col("doc_id"), 6) + 1).as("lang"),
      concat(lit("src"), h("dsrc", col("doc_id"), 20)).as("source"),
      length(array_join(col("__mut"), " ")).cast("long").as("n_chars")),
      "documents", 8)

    // embeddings: 64-dim floats, 10 clusters (center ±0.35 noise, then the
    // k-means/IVF/PQ family has real structure to find)
    val nEmb = n(20000L)
    write(spark.range(1, nEmb + 1).select(
      col("id").as("vec_id"),
      h("elab", col("id"), 10).as("label"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(lit("ec"), col("label"), j), lit(2001L))
          .cast("double") / 1000 - 1) * 0.8 +
          (pmod(xxhash64(lit("en"), col("vec_id"), j), lit(2001L))
            .cast("double") / 1000 - 1) * 0.35).cast("float")))
      .select(col("vec_id"), col("embedding"), col("label")),
      "embeddings", 4)

    println(s"[gendata] done: $outDir at sf=$sf")
    spark.stop()
  }
}
