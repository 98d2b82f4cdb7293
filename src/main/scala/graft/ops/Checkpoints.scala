package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Explicit release path for frames an operator persisted internally.
  *
  * Two storage mechanisms exist in this codebase and they release
  * DIFFERENTLY:
  *  - `.persist(...)` registers with the SQL CacheManager and releases
  *    through `Dataset.unpersist`;
  *  - `.localCheckpoint(...)` persists the RDD inside the returned frame's
  *    [[LogicalRDD]] leaf — `Dataset.unpersist` only consults the
  *    CacheManager and silently NO-OPS on it (measured on this Spark:
  *    blocks survive `unpersist(true)`). The handle that works is the
  *    leaf RDD itself.
  *
  * [[release]] dispatches on the plan, so every frame an operator hands
  * out — a [[CachedResult.caches]] entry, [[Curate.Curated.caches]],
  * [[Curate.IngestedBatch.caches]] — has ONE release call, whichever
  * mechanism backs it. Every op that persists or checkpoints on the
  * caller's behalf hands its frames out (its one entry point returns
  * them — no variant drops them): a long-running caller, e.g. a
  * streaming job invoking an op per batch, must be able to bound
  * executor storage instead of waiting on ContextCleaner GC. The caller
  * releases AFTER consuming the result: outputs are lazy, so a persist
  * released first silently recomputes, and a lazy cut released first
  * fails the read with "Checkpoint block … not found".
  */
object Checkpoints {

  /** Storage level of the intermediates an operator persists for several
    * consumers: spills, never OOMs. */
  val Intermediate = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Unpersist whatever storage backs `df`. Returns true when checkpoint
    * blocks were found on a [[LogicalRDD]] leaf (the path
    * `Dataset.unpersist` cannot reach), false when the frame released
    * through the CacheManager (or had nothing persisted — unpersist is
    * idempotent either way). */
  def release(df: DataFrame, blocking: Boolean = false): Boolean =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking)
        true
      case _ =>
        df.unpersist(blocking)
        false
    }

  /** Conf key for [[cut]]'s storage dispatch: `"true"` switches every
    * lineage cut in the iterative ops from lazy local checkpoints to
    * RELIABLE checkpoints (`Dataset.checkpoint` into
    * `sparkContext.setCheckpointDir`'s directory — survives executor loss
    * and block eviction, at the cost of one extra computation of the cut
    * frame and a write to reliable storage). Default off: local[N] runs
    * cannot lose executors, and the bench/verify harnesses carry the
    * [[withBlockLossRetry]] rebuild path for the eviction case. */
  val ReliableConfKey = "spark.graft.checkpoint.reliable"

  /** Cut `df`'s lineage — THE materialization primitive for the iterative
    * ops (PageRank, Triangles, BPE, SemDeDup, bigram LM). A plan that
    * grows per round needs its lineage truncated or analysis time and
    * task-binary size grow without bound; the two ways to truncate trade
    * differently:
    *  - lazy `localCheckpoint` (default): blocks persist on the executors
    *    that computed them, zero extra jobs — but by design CANNOT
    *    recompute after block loss (executor death, memory-pressure
    *    eviction, or an external unpersist), failing the consuming action
    *    with "Checkpoint block rdd_X_Y not found";
    *  - reliable `checkpoint` ([[ReliableConfKey]] = true): partitions
    *    written to the SparkContext checkpoint directory (HDFS on a real
    *    cluster) — block loss is recoverable by re-reading the files, the
    *    posture a 1000-executor run with preemptible nodes wants.
    * Callers release the returned frame through [[release]] either way
    * (reliable-checkpoint files are reaped by the ContextCleaner /
    * session teardown, not by unpersist — release is then a no-op). */
  private[graft] def cut(df: DataFrame, eager: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    if (!spark.conf.get(ReliableConfKey, "false").toBoolean)
      df.localCheckpoint(eager)
    else {
      require(spark.sparkContext.getCheckpointDir.nonEmpty,
        s"$ReliableConfKey=true needs sparkContext.setCheckpointDir " +
          "(a durable location — HDFS/object store on a cluster)")
      df.checkpoint(eager)
    }
  }

  /** Chained-call form of [[cut]] — keeps operator pipelines readable
    * (`frame.groupBy(...).agg(...).cutLineage()`). */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(eager: Boolean = false): DataFrame =
      Checkpoints.cut(df, eager)
  }

  /** Does `t`'s cause chain indicate lost lazily-checkpointed blocks —
    * the one failure class lazy local checkpoints cannot recompute
    * through (truncated lineage)? Matches the LocalCheckpointRDD error
    * text across the chain; Spark wraps it in job-abort layers whose
    * messages embed the original text, so the substring check is applied
    * to every message in the chain. */
  private[graft] def isBlockLoss(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 20) {
      val m = Option(cur.getMessage).getOrElse("")
      if (m.contains("Checkpoint block") && m.contains("not found"))
        return true
      cur = if (cur.getCause eq cur) null else cur.getCause
      depth += 1
    }
    false
  }

  /** Run `body` (which must BUILD its frames fresh each invocation — the
    * whole point is that a rebuild mints new RDDs whose blocks exist),
    * retrying up to `retries` times when the failure is checkpoint block
    * loss per [[isBlockLoss]]. Any other failure propagates unchanged.
    * This is the harness-level recovery story for the lazy-localCheckpoint
    * iterative ops: a query killed by eviction of a truncated-lineage
    * block is re-planned from source data instead of surfacing a
    * transient as a hard error. Returns the result plus how many retries
    * were spent (0 = clean first run) via the `onRetry` callback. */
  def withBlockLossRetry[T](retries: Int = 1, onRetry: Throwable => Unit = _ => ())
      (body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case t: Throwable if attempt < retries && isBlockLoss(t) =>
          onRetry(t)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** An operator result plus the internally-persisted frames backing it
    * — what every storage-holding operator's one entry point returns.
    * Consume `df` (write/collect), then `release()`: one [[release]] call
    * per handed-out frame, whichever mechanism backs it. A caller that
    * keeps only `df` (a lazy frame that reads the result) leaves the
    * blocks to ContextCleaner GC. */
  final case class CachedResult(df: DataFrame, caches: Seq[DataFrame]) {
    def release(blocking: Boolean = false): Unit =
      caches.foreach(c => Checkpoints.release(c, blocking))
  }
}
