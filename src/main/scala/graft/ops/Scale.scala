package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key salting, the skew mitigation that keeps a hot key from pinning
  * one reducer at 100 TB. Exercised by `LayoutSpec` and the
  * `q_salted_agg` registry row; the layout techniques live with the
  * lake (partitioned and Z-ordered writes, [[ZOrder]]) and in the
  * registry (`q_bucketed_join`).
  */
object Scale {

  /** Salted high-cardinality aggregation: pre-aggregate on (key, salt),
    * then combine per key. Two shuffles, but the first spreads a hot key
    * across `salts` reducers — the classic skew fix when one key holds a
    * disproportionate share of rows. Result is identical to a direct
    * groupBy-sum (addition is associative; use decimal-exact sums for
    * bit-stability). */
  def saltedSum(df: DataFrame, key: String, valueCol: String,
                salts: Int): DataFrame = {
    import graft.queries.Q
    df.withColumn("_salt", pmod(xxhash64(monotonically_increasing_id()), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(Q.dsum(col(valueCol)).as("_partial"), count(lit(1)).as("_n"))
      .groupBy(col(key))
      .agg(sum(col("_partial").cast(org.apache.spark.sql.types.DecimalType(38, 8)))
             .cast("double").as("total"),
           sum(col("_n")).as("n"))
  }
}
