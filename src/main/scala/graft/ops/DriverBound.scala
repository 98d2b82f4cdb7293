package graft.ops

import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

/** Bounded driver-side execution: the one rule by which an operator moves
  * work from the cluster to the driver. A distributed round costs a job
  * round-trip — pure scheduler floor on a small input. So where the input
  * is ALREADY materialized, one count-shaped job sizes it; at or below its
  * bound it is collected once and the work runs on the driver, past it the
  * distributed plan runs unchanged and the driver never sees a row.
  *
  * The bounds: 2^20 edges (≈ 16 MB of ids) for the union-find of
  * `Dedup.connectedComponentsCached` and the replay of
  * `PageRank.runFixedPointCached`; 4·2^20 feature-matrix rows (≈ 100 MB)
  * for the rounds of `TextAnalysis.fitQualityClassifier`; 512 MiB of
  * estimated payload for `Dedup.keepCanonical`, which broadcasts its label
  * table instead of collecting it. Each driver side returns exactly its
  * distributed side's result (the integer PageRank and fit recurrences do
  * not depend on merge order; the DOUBLE `PageRank.runCached` has no gate
  * because its float sums would not replay bit-identically).
  *
  * `keepCanonical` estimates 2 B per character plus 48 B per row, so a
  * row bound of 10M could never bind within 512 MiB: past 10M rows the
  * per-row charge alone is over 480 MB, leaving under 2.84 characters of
  * id plus label per row. Every label has at least one character and the
  * ids are distinct, of which at most ~1.1M (the one-code-point strings)
  * have one, so the average is at least 3 − 1.1/10 > 2.84.
  *
  * [[distributedOnly]] is the one seam that forces every gate to its
  * distributed side, which is how specs test that side at small sizes.
  */
private[graft] object DriverBound {

  val CcEdges: Long = 1L << 20
  val PageRankEdges: Long = 1L << 20
  val FitRows: Long = 4L << 20
  val BroadcastBytes: Long = 512L << 20

  private val forced = new DynamicVariable(false)

  /** Runs `body` with every gate on its distributed side. */
  def distributedOnly[T](body: => T): T = forced.withValue(true)(body)

  /** The decision job: true when `size` (a long aggregate over the
    * materialized `df`; its row count by default) is at most `bound`.
    * Under [[distributedOnly]] false, without running the job. */
  def fits(df: DataFrame, bound: Long, size: Column = count(lit(1))): Boolean =
    !forced.value && df.agg(size).head().getLong(0) <= bound

  /** `onDriver` over `df`'s collected rows when `df` [[fits]] `bound`;
    * `None` tells the caller to run its distributed plan. */
  def collect[T](df: DataFrame, bound: Long, size: Column = count(lit(1)))(
      onDriver: Array[Row] => T): Option[T] =
    if (fits(df, bound, size)) Some(onDriver(df.collect())) else None
}
