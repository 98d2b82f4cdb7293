package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Bloom-filter semi-join pruning: drop big-side rows whose key cannot be
  * in a (much smaller) build side, BEFORE the shuffle of the real join.
  *
  * Why it matters at 100 TB: a semi join against a 10^6-key dim still
  * shuffles every big-side row to its hash partition first. The bloom is
  * `mBits/32` longs TOTAL (a broadcastable words table), so the probe is a
  * map-side broadcast join + bit test — rows that cannot match never enter
  * the shuffle. False positives only cost wasted shuffle rows; the exact
  * join downstream removes them, so correctness never depends on the
  * filter. Spark's own runtime bloom join
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) does this at plan
  * level with a JVM-hash filter; this op is the explicit, engine-portable
  * variant whose pass/fail set is bit-identical in DuckDB (md5-derived
  * positions, 32-bit words so no engine overflow-checks the shift).
  */
object Bloom {

  /** Bit position for hash `i` of `key`: first 32 bits of
    * `md5(key || "#i")` mod `mBits` — non-negative, so `%` agrees
    * cross-engine.
    */
  private def bitPos(key: Column, i: Int, mBits: Int): Column =
    conv(substring(md5(concat(key.cast("string"), lit(s"#$i"))), 1, 8), 16, 10)
      .cast(LongType) % mBits

  private def positions(key: Column, k: Int, mBits: Int): Column =
    array((0 until k).map(i => bitPos(key, i, mBits)): _*)

  /** Build the filter as a `(word_idx, word)` table — `mBits/32` rows max,
    * built by one two-phase `bit_or` aggregation over the build side.
    * 32-bit words keep every shift amount ≤ 31 (portable: DuckDB
    * overflow-checks `1::BIGINT << 63`).
    */
  def buildWords(build: DataFrame, key: Column,
      mBits: Int = 4096, k: Int = 3): DataFrame =
    build.select(explode(positions(key, k, mBits)).as("pos"))
      .select(expr("pos DIV 32").as("word_idx"), col("pos"))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))")
        .as("word"))

  /** Keys of `probe` that pass the filter: every one of the `k` probed bits
    * is set. The words table is broadcast; a missing word (inner join drops
    * the probe row) or an unset bit both yield `nhit < k` → fail.
    */
  def passingKeys(probe: DataFrame, key: Column, words: DataFrame,
      mBits: Int = 4096, k: Int = 3): DataFrame = {
    val kName = probe.select(key.as("k"))
    kName.distinct()
      .select(col("k"), explode(positions(col("k"), k, mBits)).as("pos"))
      .select(col("k"), expr("pos DIV 32").as("word_idx"), col("pos"))
      .join(broadcast(words), Seq("word_idx"))
      .groupBy(col("k"))
      .agg(sum(when(expr(
        "(word & shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))) <> 0"),
        1).otherwise(0)).as("nhit"))
      .filter(col("nhit") === k)
      .select(col("k"))
  }

  /** Filter `big` down to rows whose `key` passes the bloom built from
    * `build` — the pre-shuffle prune, as a PURE MAP-SIDE row filter.
    *
    * The words table is collected to the driver and embedded as an array
    * literal: the transfer is bounded by `mBits/32` longs (KB-scale,
    * independent of data size) — the same materialize-the-filter move
    * Spark's `InjectRuntimeFilter` makes. The big side then sees only a
    * per-row bit test: no shuffle, no join, no distinct; it composes with
    * scan pushdown and stays inside whole-stage codegen.
    */
  def prune(big: DataFrame, key: Column, build: DataFrame, buildKey: Column,
      mBits: Int = 4096, k: Int = 3): DataFrame = {
    val wordsArr = new Array[Long](mBits / 32)
    buildWords(build, buildKey, mBits, k).collect()
      .foreach(r => wordsArr(r.getLong(0).toInt) = r.getLong(1))
    val lookup = typedLit(wordsArr.toSeq)
    val posCols = (0 until k).map(i => s"__bloom_pos$i")
    val staged = (0 until k).foldLeft(big) { (d, i) =>
      d.withColumn(posCols(i), bitPos(key, i, mBits))
    }
    val tests = (0 until k).map { i =>
      element_at(lookup, expr(s"CAST(${posCols(i)} DIV 32 AS INT)") + 1)
        .bitwiseAND(
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${posCols(i)} % 32 AS INT))"))
        .=!=(0)
    }
    staged.filter(tests.reduce(_ && _)).drop(posCols: _*)
  }
}
