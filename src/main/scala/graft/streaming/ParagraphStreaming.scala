package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Dedup

/** Streaming twin of the incremental paragraph pass
  * ([[graft.ops.Dedup.dedupParagraphsIncremental]]): each micro-batch of
  * new documents is cleaned against the paragraph-frequency evidence of
  * every EARLIER batch, and both outputs — the cleaned rows and the
  * batch's frequency delta — land as batch-partitioned parquet
  * (`.../batch_id=N/`). That layout is what makes replays exactly-once
  * on a plain file store, with no table format:
  *
  *  - per-batch-directory OVERWRITE makes re-delivered batches
  *    regenerate byte-identical partitions instead of double-counting
  *    their paragraph evidence;
  *  - the probe index for batch N reads only deltas with
  *    `batch_id < N`, so a crash that left a partial delta for N never
  *    feeds N's own (re)run;
  *  - the index holds (pdigest, doc_freq) rows only — 24 bytes per
  *    distinct paragraph; document bodies are never re-read.
  *
  * The batch operator's non-retroactivity note applies per micro-batch:
  * a paragraph crossing the threshold at batch N is removed from batch N
  * onward; earlier emissions stand (re-clean with the batch operator
  * when that matters).
  */
object ParagraphStreaming {

  /** [[graft.ops.Dedup.paragraphIndex]] row layout. */
  private val deltaSchema = StructType(Seq(
    StructField("pdigest", StringType),
    StructField("doc_freq", LongType)))

  /** The accumulated paragraph-frequency index as of (exclusive)
    * `beforeBatch`: per-digest SUM over all earlier deltas (the deltas
    * are per-batch distinct-doc counts; batches carry disjoint new doc
    * ids per the incremental contract, so the sum IS the distinct-doc
    * frequency). Empty frame when nothing has been ingested.
    */
  private[graft] def loadIndex(spark: SparkSession, indexPath: String,
      beforeBatch: Long): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deltas =
      if (!fs.exists(p) || fs.listStatus(p).isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), deltaSchema)
      else
        // EXPLICIT schema (batch_id filled from the partition paths): a
        // crash can leave the newest batch directory with zero readable
        // data files, and a schema-inferring read would then throw on
        // every recovery replay instead of pruning the partition away
        spark.read.schema(deltaSchema.add(StructField("batch_id", LongType)))
          .parquet(indexPath)
          .where(col("batch_id") < beforeBatch)
          .drop("batch_id")
    deltas.groupBy(col("pdigest"))
      .agg(sum(col("doc_freq")).as("doc_freq"))
  }

  /** One micro-batch body, exposed for deterministic-replay testing: the
    * streaming query below delegates here verbatim.
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, sep: String, maxDocFreq: Long,
      indexPath: String, outPath: String): Unit = {
    val spark = batch.sparkSession
    val index = loadIndex(spark, indexPath, beforeBatch = batchId)
    val r = Dedup.dedupParagraphsIncremental(batch, index, idCol, textCol,
      sep, maxDocFreq)
    r.docs.write.mode("overwrite")
      .parquet(s"$outPath/batch_id=$batchId")
    r.indexDelta.write.mode("overwrite")
      .parquet(s"$indexPath/batch_id=$batchId")
  }

  /** Start the paragraph-dedup stream over `docs` (a streaming frame
    * with `idCol`/`textCol`). Callers own stop(); exactly-once per the
    * object-level contract.
    */
  def paragraphDedupStream(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String, checkpoint: String,
      sep: String = "\n", maxDocFreq: Long = 1L): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, idCol, textCol, sep, maxDocFreq,
          indexPath, outPath)
      }
      .start()
}
