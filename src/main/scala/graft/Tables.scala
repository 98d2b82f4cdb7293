package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst's datasource V2
  * pushdown (predicate pushdown, column pruning, partition pruning) applies
  * to every downstream query — at 100 TB these scans are the dominant cost
  * and the plan must show `PushedFilters`/narrow `ReadSchema`.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** `events.ts` physical type has varied across driver fixture versions:
    * currently µs-without-timezone (Spark 4 reads it as TIMESTAMP_NTZ —
    * passed through untouched, since the DuckDB oracle reads the same file
    * as a naive timestamp and every downstream consumer is NTZ-safe), and
    * historically TIMESTAMP(NANOS), which under
    * `spark.sql.legacy.parquet.nanosAsLong=true` arrives as LongType and is
    * floored to µs here. Kept inside the loader so queries never see the
    * raw physical encoding.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    val raw = apply(spark, dir, "events")
    if (raw.schema("ts").dataType == LongType)
      // FLOOR division nanos→micros: `DIV` truncates toward zero, which
      // would round pre-epoch (negative) timestamps up by 1 µs — matching
      // how µs-native readers floor. (Double division would lose precision
      // above 2^53 ns.)
      raw.withColumn("ts", timestamp_micros(
        expr("ts DIV 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")))
    else raw
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()

  /** Cached row count for 1-value parameter lookups inside query builders
    * (e.g. the as-of probe's symbol modulus). The first call runs one
    * metadata-only count job; repeat invocations in the same JVM are free —
    * plan construction must not launch a Spark job per call.
    */
  def cachedRowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCountCache.computeIfAbsent((dir, name), _ => apply(spark, dir, name).count())
}

/** Numeric helpers shared by queries that must hash-match a DuckDB oracle.
  *
  * Floating-point sums are order-dependent; Spark's partial aggregation and
  * DuckDB's sequential scan accumulate in different orders, so `sum(double)`
  * can differ in low-order bits (and after rounding, occasionally in the
  * printed value). The fix used throughout this engine: money-like columns
  * have a fixed decimal precision, so `sum(round(x * 10^s)) / 10^s` sums
  * exact integers (error-free in IEEE754 below 2^53) and is bit-identical
  * across engines AND across partitionings — which also makes results stable
  * under AQE re-planning at 100 TB.
  */
object ExactNum {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Order-independent, engine-portable sum of a fixed-precision decimal
    * column stored as double. `scale` = number of decimal digits.
    */
  def exactSum(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale.toDouble)
    sum(round(c * lit(p))) / lit(p)
  }
}
