package graft.ops

import org.apache.spark.sql.DataFrame

/** Bucketed-table co-location: the pre-shuffle contract for repeated
  * large-large joins and aggregations on a stable key.
  *
  * At 100 TB the dominant avoidable cost of a fact-fact join is shuffling
  * both sides on every query. Writing the tables bucketed (hash-split into
  * `buckets` files per partition) and sorted by the join key moves that
  * shuffle to WRITE time, once: every subsequent equi-join or aggregation
  * on the key plans with NO Exchange on the bucketed sides — the scan
  * itself satisfies the join's required distribution (and the sort order
  * feeds SortMergeJoin without a Sort). The spec asserts exactly that plan
  * shape.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted managed table (overwriting any
    * previous version). `buckets` should be sized so one bucket of the
    * LARGEST co-located table fits an executor's memory at target scale.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    // idempotent rewrite: drop any previous table AND its location — a
    // dangling directory from a dropped or crashed run otherwise blocks
    // managed-table creation (LOCATION_ALREADY_EXISTS)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }
}
