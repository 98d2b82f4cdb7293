package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DiffSpec extends SparkSpec {
  import spark.implicits._

  private val oldV = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
    (4L, null.asInstanceOf[String], 40.0)
  ).toDF("k", "s", "v")

  private val newV = Seq(
    (1L, "a", 10.0),                      // unchanged
    (2L, "b", 21.0),                      // changed (payload)
    (4L, null.asInstanceOf[String], 40.0),// unchanged (null == null, null-safe)
    (5L, "e", 50.0)                       // added; 3 removed
  ).toDF("k", "s", "v")

  test("snapshot diff classifies added/removed/changed/unchanged with null-safe compare") {
    val d = Diff.snapshotDiff(oldV, newV, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added"))
  }

  test("keys-only diff (empty payload): pure existence comparison") {
    val d = Diff.snapshotDiff(oldV, newV, Seq("k"), Nil)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "unchanged", 3L -> "removed",
      4L -> "unchanged", 5L -> "added"))
  }
}

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1L, 1, Some(5.0)), (1L, 2, Some(-1.0)), (1L, 2, Some(3.0)),
    (2L, 1, None), (9L, 1, Some(2.0))
  ).toDF("order_id", "line", "amount")

  test("row rules fold into one pass; null fails closed") {
    val v = Checks.violations(df,
        Seq(Checks.positive("amount"), Checks.notNull("amount")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // positive: -1.0 violates AND the null row fails closed -> 2
    assert(v == Map("positive_amount" -> 2L, "not_null_amount" -> 1L))
  }

  test("zero-row input reports 0 violations, not null") {
    val empty = df.where(col("order_id") < 0)
    val v = Checks.violations(empty, Seq(Checks.positive("amount")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v == Map("positive_amount" -> 0L))
  }

  test("duplicate keys and orphans surface as rules in the summary") {
    val parents = Seq(1L, 2L).toDF("id")
    val s = Checks.summary(df,
        rules = Seq(Checks.notNull("amount")),
        uniqueKey = Seq("order_id", "line"),
        refChecks = Seq(("fk_parent", parents, "order_id", "id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s("unique_order_id_line") == 1L) // (1,2) appears twice -> 1 extra row
    assert(s("fk_parent") == 1L)            // order_id 9 has no parent
  }
}
