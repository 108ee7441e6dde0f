package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus shuffling + shard assignment — the "shuffle once,
  * write N shard files" step before training. Training order must be a
  * reproducible global permutation (ablations re-read the same order;
  * resumption depends on it), so the permutation key is the same
  * deterministic md5-keyspace draw as [[Splits]]/[[Mixing]]:
  * `md5(salt|key)` — no RNG state, identical on any engine/partitioning.
  * Position = rank in that keyspace; shard = round-robin over positions
  * (`(pos−1) mod numShards`), which balances shards to ±1 row by
  * construction, independent of key skew.
  *
  * The global rank is computed DISTRIBUTED: a naive
  * `row_number() OVER (ORDER BY shufkey)` funnels the entire corpus
  * through ONE task (Spark plans an empty-partition window as a single
  * partition — the classic global-window trap). Instead: bucket by a hex
  * PREFIX of the shuffle key (buckets are ordered prefix ranges of the
  * keyspace, uniformly filled because md5 is uniform), rank locally per
  * bucket, and add each bucket's global offset (the cumulative count of
  * lexicographically-earlier buckets — an answer-sized frame joined back
  * broadcast). Buckets are a PURE FUNCTION of the data — deliberately not
  * `repartitionByRange`, whose sampled boundaries are seeded by the RDD
  * id, so the offsets subplan's re-evaluation can draw DIFFERENT bounds
  * than the main pass and mis-align offsets (observed at sf0.1: positions
  * past n, duplicated ranks; invisible at small SFs where the "sample" is
  * the whole input). One bucket-keyed exchange of the data (the bucket
  * count agg reuses it) plus a broadcast of ≤4096 rows; every stage is
  * parallel at any corpus size. Ties (md5 collisions) are broken by the
  * key itself, so the permutation is total and deterministic.
  */
object Sharding {

  /** `df` plus `pos` (1-based global shuffle position) and `shard`
    * (0-based round-robin shard id). Deterministic in `keyCol` and `salt`;
    * `keyCol` must be non-null (null keys have no defined position) and
    * UNIQUE — duplicate keys produce identical sort tuples, so which
    * payload row gets which position would depend on scan order, breaking
    * the reproducible-order contract. Output column names `pos`/`shard`
    * (and internal `__`-prefixed temporaries) are reserved: inputs that
    * already carry them are rejected rather than silently clobbered.
    *
    * @param bucketHexChars md5-prefix length defining the bucket count
    *        (16^n buckets): 2 → 256 for small/medium corpora, 3 → 4096
    *        when you want ≥thousands of parallel rank tasks.
    */
  def shuffleShards(
      df: DataFrame,
      keyCol: String,
      numShards: Int,
      salt: String = "shard",
      bucketHexChars: Int = 2): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    require(bucketHexChars >= 1 && bucketHexChars <= 4,
      "bucketHexChars must be in [1, 4] (16 to 65536 buckets)")
    val reserved = Seq("pos", "shard", "__sk", "__bk", "__rn", "__off")
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"shuffleShards input already has reserved column(s) ${clash.mkString(", ")} — " +
        "rename them first (outputs pos/shard would silently clobber)")
    val sk = md5(concat(lit(s"$salt|"), col(keyCol).cast("string")))
    val bucketed = df
      .withColumn("__sk", sk)
      .withColumn("__bk", substring(col("__sk"), 1, bucketHexChars))
    // local rank within the bucket; the window's hash exchange on __bk is
    // the operator's single data shuffle
    val wLocal = Window.partitionBy(col("__bk")).orderBy(col("__sk"), col(keyCol))
    val local = bucketed.withColumn("__rn", row_number().over(wLocal))
    // answer-sized per-bucket counts (reuses the window's partitioning) →
    // exclusive running offset in bucket (= keyspace-prefix) order
    val wCum = Window.orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val offsets = local.groupBy(col("__bk")).agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(wCum), lit(0L)))
      .select(col("__bk"), col("__off"))
    local.join(broadcast(offsets), "__bk")
      .withColumn("pos", col("__off") + col("__rn"))
      .withColumn("shard", ((col("pos") - 1) % numShards).cast("long"))
      .drop("__sk", "__bk", "__rn", "__off")
  }
}
