package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot-key workloads.
  *
  * AQE's skew-join splitting handles skewed joins at runtime; it cannot
  * fix a skewed AGGREGATION (one giant group). Pre-aggregate under a salt,
  * then merge — two shuffles, but the first spreads the hot key over
  * `saltBuckets` reducers instead of melting one. The rewrite is
  * algebraic: results are identical to the unsalted plan for decomposable
  * aggregates (sum/count/min/max).
  */
object Skew {

  /** Salted two-phase sum/count aggregation.
    *
    * @param aggs (outputName, inputColumn) pairs; each is summed. count(*)
    *             is always emitted as `n_rows`.
    */
  def saltedSum(df: DataFrame, keys: Seq[String], saltBuckets: Int,
      aggs: Seq[(String, Column)]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__n"),
        aggs.map { case (name, c) => sum(c).as(s"__$name") }: _*)
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as("n_rows"),
        aggs.map { case (name, _) => sum(col(s"__$name")).as(name) }: _*)
  }
}
