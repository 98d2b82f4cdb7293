package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Similarity

/** Streaming ANN index maintenance: each micro-batch of new vectors is
  * coarse-assigned against the index's frozen quantizer and appended as
  * that batch's centroid-partitioned list files
  * ([[Similarity.ivfIngestBatch]]). The probe path
  * ([[Similarity.ivfListsProbe]]) is untouched — queries running DURING
  * ingestion see every fully-committed batch and never a torn one
  * (batch directories become visible only after their parquet commit).
  *
  * Exactly-once: Structured Streaming's checkpointed batch ids plus the
  * per-batch-directory OVERWRITE in `ivfIngestBatch` — the identical
  * replay contract as [[ParagraphStreaming]]. The quantizer freezes at the
  * first batch (or `pretrained`): index maintenance must never
  * re-geometry committed lists; a rebuild is a batch operation.
  */
object AnnStreaming {

  /** Start the index-maintenance stream over `vecs` (a streaming frame
    * with `idCol`/`vecCol`). Callers own stop().
    */
  def annIngestStream(vecs: DataFrame, idCol: String, vecCol: String,
      indexPath: String, checkpoint: String,
      pretrained: Option[Similarity.IvfIndex] = None,
      k: Int = 16): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        // Empty micro-batches are routine (startup, no-data triggers).
        // Skipping them matters doubly when the quantizer would bootstrap
        // from this batch: training on zero vectors throws, and a failed
        // batch 0 replays on restart — a crash loop until data arrives
        // (r7 review). An empty delta dir carries no information anyway.
        if (!batch.isEmpty)
          Similarity.ivfIngestBatch(batch.toDF(), idCol, vecCol, batchId,
            indexPath, pretrained, k): Unit
      }
      .start()
}
