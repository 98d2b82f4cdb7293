package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Policy

/** Streaming twin of the crawl-policy gate ([[Policy.gate]]): crawl
  * drops arrive as micro-batches and each batch is gated against a
  * STATIC per-host robots-rule table ([[Policy.parseRobots]] output —
  * refreshed out-of-band on the robots recrawl cadence). The gate is stateless
  * (scalar regexp signals + one stream-static equi-join), so state never
  * grows and a batch's cost tracks the batch, not the stream's age.
  *
  * Same exactly-once contract as the sibling foreachBatch sinks:
  * per-batch-directory OVERWRITE, so a re-delivered batch regenerates
  * its output instead of appending duplicates. Dropped pages are not
  * silently discarded — each batch writes the kept pages AND a one-row
  * audit (kept/dropped per channel), because a compliance gate that
  * cannot show what it removed is unauditable.
  */
object PolicyStreaming {

  /** One micro-batch body, exposed for deterministic-replay testing. */
  private[graft] def gateBatch(batch: DataFrame, batchId: Long, urlCol: String,
      htmlCol: String, hostRules: DataFrame, outPath: String,
      respectNoAi: Boolean = true,
      requireCommercial: Boolean = false): Unit = {
    val gated = Policy.gate(batch, urlCol, htmlCol, Some(hostRules),
      respectNoAi, requireCommercial)
      .persist() // feeds the kept sink AND the audit row
    try {
      gated.where(col("policy_keep")).drop("policy_keep")
        .write.mode("overwrite").parquet(s"$outPath/kept/batch_id=$batchId")
      gated.agg(
          count(lit(1)).as("n_pages"),
          sum(when(col("policy_keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col(htmlCol).isNull, 1L).otherwise(0L))
            .as("n_null_html"),
          sum(when(!col("robots_allowed"), 1L).otherwise(0L))
            .as("n_robots_blocked"),
          sum(when(col("robots_noindex") || col("robots_noai"), 1L)
            .otherwise(0L)).as("n_directive_blocked"),
          sum(when(!col("license_commercial"), 1L).otherwise(0L))
            .as("n_not_commercial"))
        .write.mode("overwrite").parquet(s"$outPath/audit/batch_id=$batchId")
    } finally gated.unpersist(false)
  }

  /** Start the gate over `pages` (a streaming frame carrying `urlCol` +
    * `htmlCol`). The rule table is persisted ONCE — an un-persisted
    * parseRobots frame would re-run its window parse inside every
    * micro-batch before re-joining. Callers own stop(), and on a robots
    * refresh the superseded rule table's blocks should be released with
    * `hostRules.unpersist()` after the old query stops (blocks otherwise
    * release with the session). Read the surviving corpus at
    * `outPath/kept`, the per-batch audit at `outPath/audit`. */
  def gateStream(pages: DataFrame, urlCol: String, htmlCol: String,
      hostRules: DataFrame, outPath: String, checkpoint: String,
      respectNoAi: Boolean = true,
      requireCommercial: Boolean = false): StreamingQuery = {
    val frozen = hostRules.persist()
    pages.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        gateBatch(batch.toDF(), batchId, urlCol, htmlCol, frozen, outPath,
          respectNoAi, requireCommercial)
      }
      .start()
  }

  /** The per-batch audit as one frame, newest first (empty with the
    * documented schema when no batch has committed yet). */
  def auditLog(spark: SparkSession, outPath: String): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val schema = StructType(Seq("n_pages", "n_kept", "n_null_html",
      "n_robots_blocked", "n_directive_blocked", "n_not_commercial",
      "batch_id").map(StructField(_, LongType)))
    val p = new org.apache.hadoop.fs.Path(s"$outPath/audit")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(s"$outPath/audit")
      .orderBy(col("batch_id").desc)
  }
}
