package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture compaction: collapse an append-only update log to
  * the latest state per key (SCD-1 "merge-on-read" semantics with plain
  * DataFrames — no table format required).
  *
  * Scale shape: one hash shuffle on the key columns; the recency pick is a
  * `row_number` window whose rank-1 predicate Spark pushes below the
  * exchange (WindowGroupLimit), so each map task forwards at most one row
  * per key it sees — a key updated 10⁶ times costs its partition one
  * surviving row, not 10⁶ shuffled rows.
  */
object Upsert {

  /** Latest row per key under `recency` (descending-first ordering columns;
    * extend until UNIQUE — a tie makes "latest" nondeterministic).
    */
  def latestByKey(log: DataFrame, keys: Seq[String],
      recency: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(recency: _*)
    log.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__rk")
  }

  /** Apply a full CDC log WITH DELETES: `opCol` marks each change 'U'
    * (upsert) or 'D' (delete). Rows from `changes` win over `base` on key
    * collision (and within each side, `recency` decides); keys whose
    * LATEST change is a delete leave the snapshot. Classic upsert = union
    * + compaction — one shuffle total, no join. The tombstone filter runs
    * after the rank-1 pick, so a key deleted and re-inserted 10⁶ times
    * still ships one row per map task.
    */
  def applyCdc(base: DataFrame, changes: DataFrame, keys: Seq[String],
      recency: Seq[Column], opCol: String): DataFrame = {
    // a literal epoch column makes "changes beat base" part of the SAME
    // ordering (no outer-join formulation, which would shuffle twice)
    val tagged = base
      .withColumn(opCol, lit("U")).withColumn("__epoch", lit(0))
      .unionByName(changes.withColumn("__epoch", lit(1)))
    // null-safe: a malformed change with op = null must be treated as an
    // upsert, not silently tombstone the key (=!= is null for null op and
    // the filter would drop the row)
    latestByKey(tagged, keys, col("__epoch").desc +: recency)
      .where(!(col(opCol) <=> lit("D")))
      .drop("__epoch", opCol)
  }
}
