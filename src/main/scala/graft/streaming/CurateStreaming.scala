package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.{Checkpoints, Curate}

/** Streaming twin of the append-mode curation composition
  * ([[graft.ops.Curate.ingest]]): each micro-batch of new documents is
  * curated against the accumulated dedup index and both outputs — the
  * curated rows and the index delta — land as BATCH-PARTITIONED parquet
  * directories (`.../batch_id=N/`). That layout is what makes replays
  * exactly-once on a plain file store, with no table format:
  *
  *  - every write is a per-batch-directory OVERWRITE, so a re-delivered
  *    batch regenerates byte-identical partitions instead of appending
  *    duplicates;
  *  - the probe index for batch N reads only deltas with
  *    `batch_id < N`, so a crash that left a partial delta for N can
  *    never feed N's own (re)run — the recomputation is exactly the
  *    original computation, deterministically;
  *  - [[graft.ops.Curate.ingest]]'s own idempotence (an already-indexed
  *    doc is dropped at the exact stage) covers cross-batch
  *    re-delivery of the same documents under NEW batch ids.
  *
  * Scale shape: identical to the batch composition — per micro-batch
  * cost is O(|batch|) signature/digest work plus two equi-joins against
  * the index; the historical corpus is never re-read (the index holds
  * digests and banded signatures, not bodies), and the index read is
  * partition-pruned parquet. The reference's daily cadence
  * (dags/sp500_dag.py.py:324, catchup=False) maps to one micro-batch
  * per day.
  */
object CurateStreaming {

  private val digestSchema = StructType(Seq(StructField("digest", StringType)))

  /** [[graft.ops.Dedup.bandedFromSigs]] row layout (long ids). */
  private val bandedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType)),
    StructField("band", IntegerType),
    StructField("band_hash", IntegerType)))

  /** The accumulated [[Curate.DedupIndex]] as of (exclusive) `beforeBatch`:
    * union of all persisted deltas with `batch_id < beforeBatch`, empty
    * frames when nothing has been ingested yet. Partition pruning keeps
    * later/partial delta directories out of the scan.
    */
  def loadDedupIndex(spark: SparkSession, indexPath: String,
      beforeBatch: Long): Curate.DedupIndex = Curate.DedupIndex(
    readDeltas(spark, s"$indexPath/digests", beforeBatch, digestSchema),
    readDeltas(spark, s"$indexPath/banded", beforeBatch, bandedSchema))

  /** Batch-bounded delta read shared by the streaming sinks: explicit
    * schema (batch_id from the partition paths) so a crash-truncated
    * newest batch directory prunes away instead of breaking schema
    * inference on every recovery replay. */
  private[streaming] def readDeltas(spark: SparkSession, path: String,
      before: Long, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else
      // EXPLICIT schema (batch_id filled from the partition paths): a
      // crash can leave the newest batch directory with zero readable
      // data files, and a schema-inferring read would then throw on
      // every recovery replay instead of pruning the partition away
      spark.read.schema(schema.add(StructField("batch_id", LongType)))
        .parquet(path)
        .where(col("batch_id") < before)
        .drop("batch_id")
  }

  /** One micro-batch body, exposed for deterministic-replay testing: the
    * streaming query below delegates here verbatim. Overwrites (never
    * appends) the three per-batch directories.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexPath: String, outPath: String,
      n: Int, bands: Int, rowsPerBand: Int, minEstJaccard: Double,
      minQuality: Double): Unit = {
    val spark = batch.sparkSession
    val index = loadDedupIndex(spark, indexPath, beforeBatch = batchId)
    val r = Curate.ingest(batch, idCol, textCol, index,
      n = n, bands = bands, rowsPerBand = rowsPerBand,
      minEstJaccard = minEstJaccard, minQuality = minQuality,
      report = false)
    r.docs.write.mode("overwrite")
      .parquet(s"$outPath/batch_id=$batchId")
    r.newDigests.write.mode("overwrite")
      .parquet(s"$indexPath/digests/batch_id=$batchId")
    r.newBandedRows.write.mode("overwrite")
      .parquet(s"$indexPath/banded/batch_id=$batchId")
    // all three outputs are on disk — release the per-batch caches, or a
    // long-running stream accumulates persisted blocks forever
    r.caches.foreach(Checkpoints.release(_))
  }

  /** Start the curation stream over `docs` (a streaming frame with
    * `idCol`/`textCol`). Callers own stop(); exactly-once per the
    * object-level contract (checkpointed batch ids + per-batch-directory
    * overwrite + batch-bounded index probe).
    */
  def curateIngestStream(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String, checkpoint: String,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      minEstJaccard: Double = 0.7,
      minQuality: Double = 0.3): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, idCol, textCol, indexPath,
          outPath, n, bands, rowsPerBand, minEstJaccard, minQuality)
      }
      .start()
}
