package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation: salted joins.
  *
  * A hash-partitioned join or group-by sends every row of a hot key to one
  * task; at 100 TB one pathological key (a bot user, a default timestamp,
  * an empty-string id) stalls the stage. Salting splits each hot key into
  * `factor` synthetic sub-keys: the skewed (big) side gets a salt column
  * and the small side is exploded ×`factor` so every (key, salt) pair
  * still matches.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`, on by
  * default here) covers sort-merge joins automatically at runtime; this
  * helper is for joins AQE cannot split (e.g. build-side skew in broadcast
  * scenarios).
  */
object Salt {

  /** Deterministic salt in [0, factor) from an arbitrary unique column. */
  def saltFrom(unique: Column, factor: Int): Column =
    pmod(crc32(unique.cast("string")), lit(factor)).cast("int")

  /** Salted equi-join of a skewed big side against a small side: the small
    * side is exploded ×factor (and broadcast), so the big side's salt
    * spreads each hot key over `factor` tasks.
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      uniqueCol: String,
      factor: Int = 16,
      joinType: String = "left"): DataFrame = {
    val saltedBig = big.withColumn("__salt", saltFrom(col(uniqueCol), factor))
    val explodedSmall = small
      .withColumn("__salt", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("__salt", col("__salt").cast("int"))
    saltedBig
      .join(broadcast(explodedSmall), Seq(key, "__salt"), joinType)
      .drop("__salt")
  }
}
