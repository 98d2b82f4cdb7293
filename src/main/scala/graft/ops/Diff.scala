package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot diff — the table-versioning audit: given two versions of a
  * keyed table, classify every key as added / removed / changed /
  * unchanged. This is the verification step behind every backfill,
  * migration, and CDC replay ("what did this rewrite actually touch?").
  *
  * One shuffled full-outer join on the key, payload comparison as a
  * codegen'd null-safe conjunction — no row hashing (hash formats differ
  * across engines and hide WHICH column moved), no collect. At 100 TB
  * both sides shuffle once on the key; with bucketed tables
  * ([[Bucketing]]) even that exchange disappears.
  */
object Diff {

  /** Row-level diff of `newDf` against `oldDf` on `keys`, comparing
    * `payload` columns null-safely. Result: key columns + `change_type`
    * (added | removed | changed | unchanged).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String], payload: Seq[String]): DataFrame = {
    val o = oldDf.select((keys ++ payload).map(col): _*)
      .withColumn("__old", lit(1))
      .withColumnsRenamed(payload.map(c => c -> s"__o_$c").toMap)
    val n = newDf.select((keys ++ payload).map(col): _*)
      .withColumn("__new", lit(1))
      .withColumnsRenamed(payload.map(c => c -> s"__n_$c").toMap)
    // empty payload = keys-only existence diff: everything present on both
    // sides is 'unchanged' (foldLeft, not reduce — reduce throws on Nil)
    val same = payload
      .map(c => col(s"__o_$c") <=> col(s"__n_$c"))
      .foldLeft(lit(true))(_ && _)
    o.join(n, keys, "full_outer")
      .withColumn("change_type",
        when(col("__old").isNull, lit("added"))
          .when(col("__new").isNull, lit("removed"))
          .when(same, lit("unchanged"))
          .otherwise(lit("changed")))
      .select(keys.map(col) :+ col("change_type"): _*)
  }
}
