package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Count-min sketch as a DataFrame aggregation: approximate per-key counts
  * (heavy hitters) in `depth × width` cells of state, independent of key
  * cardinality.
  *
  * Where it earns its place at 100 TB: an exact `groupBy(key).count()` is
  * fine in batch (two-phase aggregation scales), but a STREAMING top-k over
  * an unbounded key domain (URLs, shingles) accumulates state per key — the
  * sketch's state is d×w cells forever, and the same plan runs in both
  * modes (see the streaming spec: one `groupBy(row_i, bucket)` sum
  * maintained incrementally in complete/update mode).
  *
  * Engine-portable hashing: bucket ids derive from `md5` (identical bytes
  * in Spark and DuckDB), so sketch CELLS and ESTIMATES are bit-identical
  * cross-engine — the sketch itself is oracle-checkable (`q_heavy_hitters`),
  * unlike xxhash-seeded MinHash/SimHash which are declared rows-only.
  * Estimates are overestimates-only by construction (min over d cells, each
  * cell ≥ the true count).
  */
object Sketch {

  /** Bucket id for hash row `i`: first 32 bits of `md5(key || "#i")`,
    * modulo `width`. Non-negative (32-bit value in a long), lowercase-hex
    * md5 on both engines, so `%` agrees cross-engine.
    */
  private def cmBucket(key: Column, i: Int, width: Int): Column =
    conv(substring(md5(concat(key, lit(s"#$i"))), 1, 8), 16, 10)
      .cast(LongType) % width

  /** Build the sketch: ONE pass over (key, weight) rows — each row fans
    * out to its `depth` (row, bucket) cells via posexplode, then a
    * two-phase sum keyed on the cell id. Map-side partial aggregation
    * bounds the shuffle at partitions × depth × width rows regardless of
    * input size. A weight of 1 per row builds the sketch of the raw
    * stream; PRE-AGGREGATED (key, count) rows give identical cells (a
    * cell's count = total occurrences of the keys hashing into it) with
    * the `depth` md5 evaluations run per DISTINCT key instead of per
    * occurrence — the right composition when an exact per-key aggregate
    * is being computed anyway (see `q_heavy_hitters`), and the standard
    * mergeable form for combining pre-counted shards.
    */
  def countMinBuildWeighted(counts: DataFrame, keyCol: String,
      weightCol: String, depth: Int = 4, width: Int = 2048): DataFrame =
    counts.select(col(weightCol), posexplode(
        array((0 until depth).map(i => cmBucket(col(keyCol), i, width)): _*))
        .as(Seq("row_i", "bucket")))
      .groupBy(col("row_i"), col("bucket"))
      .agg(sum(col(weightCol)).as("cnt"))

  /** Merge count-min sketches (any union of [[countMinBuildWeighted]]
    * outputs over the same depth/width): cell
    * counts ADD, exactly — so per-segment sketches built independently
    * across 1000 executors (or days, or sources) combine into the
    * one-pass sketch bit-for-bit. The mergeable twin of
    * [[hllMergeEstimate]].
    */
  def countMinMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("row_i"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point estimates for a frame of keys: probe the key's `depth` cells,
    * take the min. `depth`/`width` must match the build. Inner join is
    * safe for keys present in the built data (their cells exist); absent
    * keys estimate as the min of whatever their cells collide with — join
    * left_outer and coalesce to 0 if absent keys must report 0-ish.
    */
  def countMinEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 2048): DataFrame = {
    val probes = keys.select(col(keyCol), posexplode(
        array((0 until depth).map(i => cmBucket(col(keyCol), i, width)): _*))
        .as(Seq("row_i", "bucket")))
    probes
      .join(sketch, Seq("row_i", "bucket"))
      .groupBy(col(keyCol))
      .agg(min(col("cnt")).as("est_count"))
  }

  /** HyperLogLog distinct-count estimate per group, engine-portable.
    *
    * Why a sketch when `count(DISTINCT k)` exists: exact distinct forces a
    * shuffle of every distinct key (state grows with cardinality); the HLL
    * register table is `groups × 2^p` rows FOREVER, the per-bucket `max` is
    * a two-phase aggregate (map-side partial max bounds the shuffle at
    * `partitions × groups × 2^p` rows regardless of input size), and
    * register tables from disjoint datasets merge with another `max` — the
    * property that lets 1000 executors sketch 100 TB independently.
    *
    * Portability (the reason this is oracle-checkable, unlike JVM-hash HLLs
    * such as Spark's `approx_count_distinct`): the 32-bit hash is the first
    * 8 hex chars of `md5` (bit-identical in DuckDB); `rho` (leading-zero
    * rank of the low `32-p` bits) uses `length(bin(w))` — both engines print
    * minimal binary digits; and the harmonic mean is computed in EXACT
    * integer arithmetic by scaling each `2^-M_j` term to `2^(32-p+1-M_j)`
    * (a long; the sum is order-independent). The final division and the
    * alpha/m factors are all powers of two or a single constant-folded
    * double, so the estimate is bit-identical cross-engine.
    *
    * No small-range (linear-counting) correction: it needs `ln`, whose
    * last-ulp differs across libm implementations. Raw estimates are biased
    * below ~2.5·2^p distincts — callers at that scale should use exact
    * distinct anyway.
    */
  def hllDistinct(df: DataFrame, key: Column, group: Column,
      p: Int = 8): DataFrame =
    hllEstimate(hllRegisters(df, key, group, p), p)

  /** The PERSISTABLE / MERGEABLE HLL partial state: one row per occupied
    * (grp, bucket) with the register maximum. This is the form a 100 TB
    * pipeline stores per segment (day, source, shard): re-aggregation is
    * register-wise `max` — associative and idempotent — so cross-segment
    * distinct counts come from merging tiny register tables
    * ([[hllMergeEstimate]]) instead of re-scanning raw data, and a
    * segment can be recomputed/replayed without corrupting the union.
    */
  def hllRegisters(df: DataFrame, key: Column, group: Column,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"p=$p outside [4,16]")
    val wBits = 32 - p
    val rhoMax = wBits + 1
    val h32 = conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast(LongType)
    val w = h32.bitwiseAND(lit((1L << wBits) - 1))
    val rho = when(w === 0, lit(rhoMax))
      .otherwise(lit(rhoMax) - length(bin(w)))
    df.select(group.as("grp"), shiftright(h32, wBits).as("bucket"),
        rho.as("rho"))
      .groupBy(col("grp"), col("bucket"))
      .agg(max(col("rho")).as("rho_max"))
  }

  /** Merge register frames (register-wise max across whatever union of
    * [[hllRegisters]] outputs is supplied) and estimate per group. With
    * registers from DISJOINT segments of one corpus this is bit-identical
    * to the one-pass [[hllDistinct]] — max is associative — which is the
    * property the oracle pins. */
  def hllMergeEstimate(registers: DataFrame, p: Int = 8): DataFrame =
    hllEstimate(
      registers.groupBy(col("grp"), col("bucket"))
        .agg(max(col("rho_max")).as("rho_max")), p)

  private def hllEstimate(regRaw: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p=$p outside [4,16]")
    val m = 1 << p
    val rhoMax = (32 - p) + 1
    // Empty buckets contribute 2^-0 = 1 (scaled: 2^rhoMax) to the harmonic
    // sum — no grid materialization needed:
    //   z = Σ_present 2^(rhoMax - M_j) + (m - n_present) · 2^rhoMax
    // Pure integer arithmetic, so still order-independent and bit-exact.
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    regRaw.groupBy(col("grp"))
      .agg((sum(expr(
          s"shiftleft(CAST(1 AS BIGINT), CAST($rhoMax - rho_max AS INT))"))
        + (lit(m.toLong) - count(lit(1))) * lit(1L << rhoMax))
        .cast(LongType).as("z_scaled"))
      .select(col("grp"), col("z_scaled"),
        (alpha * lit((m.toDouble) * m.toDouble) *
          lit(math.pow(2.0, rhoMax.toDouble)) / col("z_scaled"))
          .as("hll_est"))
  }
}
