package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private val t = java.sql.Timestamp.valueOf(_: String)

  test("latestByKey: newest row wins per key; ties broken by id") {
    val log = Seq(
      (1L, "k1", t("2024-01-01 10:00:00"), "old"),
      (2L, "k1", t("2024-01-01 11:00:00"), "new"),
      (3L, "k2", t("2024-01-01 09:00:00"), "only"),
      (4L, "k3", t("2024-01-01 09:00:00"), "tie-lo"),
      (5L, "k3", t("2024-01-01 09:00:00"), "tie-hi"))
      .toDF("event_id", "key", "ts", "v")
    val out = Upsert.latestByKey(log, Seq("key"),
        Seq(col("ts").desc, col("event_id").desc))
      .select("key", "v").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "new", "k2" -> "only", "k3" -> "tie-hi"))
  }

  test("applyCdc: latest tombstone deletes the key; delete-then-reinsert survives") {
    val base = Seq(
      (1L, "k1", t("2024-01-01 10:00:00"), "base1"),
      (2L, "k2", t("2024-01-01 10:00:00"), "base2"),
      (3L, "k4", t("2024-01-01 10:00:00"), "base4"))
      .toDF("event_id", "key", "ts", "v")
    val changes = Seq(
      (4L, "k1", t("2024-01-01 11:00:00"), "upd1", "U"),
      (5L, "k2", t("2024-01-01 11:00:00"), "del2", "D"),   // k2 deleted
      (6L, "k3", t("2024-01-01 11:00:00"), "del3", "D"),   // delete then...
      (7L, "k3", t("2024-01-01 12:00:00"), "reins3", "U")) // ...reinsert wins
      .toDF("event_id", "key", "ts", "v", "op")
    val out = Upsert.applyCdc(base, changes, Seq("key"),
        Seq(col("ts").desc, col("event_id").desc), "op")
      .select("key", "v").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "upd1", "k3" -> "reins3", "k4" -> "base4"))
  }

  test("applyCdc: a malformed null-op change upserts, never tombstones") {
    val base = Seq((1L, "k1", t("2024-01-01 10:00:00"), "base1"))
      .toDF("event_id", "key", "ts", "v")
    val changes = Seq(
      (2L, "k1", t("2024-01-01 11:00:00"), "corrupt", null.asInstanceOf[String]))
      .toDF("event_id", "key", "ts", "v", "op")
    val out = Upsert.applyCdc(base, changes, Seq("key"),
        Seq(col("ts").desc, col("event_id").desc), "op")
      .select("key", "v").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "corrupt"))
  }

  test("latestByKey plans WindowGroupLimit (rank pushed below the exchange)") {
    // parquet-backed input: the group-limit push does not trigger over a
    // LocalTableScan, so audit the plan the real query runs
    val p = Upsert.latestByKey(graft.Tables.events(spark, sf),
      Seq("user_id", "event_type"),
      Seq(col("ts").desc, col("event_id").desc))
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }
}

class IdsSpec extends SparkSpec {
  import spark.implicits._

  test("globalRank equals the single-partition window rank for any partition count") {
    val df = (0 until 500).map(i => (i.toLong, (i * 7919 % 97).toLong))
      .toDF("id", "w")
    val expected = df
      .withColumn("rid", row_number().over(Window.orderBy(col("w"), col("id"))) - 1)
      .select("id", "rid").as[(Long, Long)].collect().toMap
    Seq(1, 3, 8).foreach { parts =>
      val got = Ids.globalRank(df, Seq("w", "id"), partitions = parts)
        .select("id", "rid").as[(Long, Long)].collect().toMap
      assert(got == expected, s"parts=$parts: ids diverge from global rank")
    }
  }

  test("globalRank ids are dense 0..n-1") {
    val df = Seq(5L, 1L, 9L, 3L).toDF("k")
    val ids = Ids.globalRank(df, Seq("k")).select("rid").as[Long].collect().sorted
    assert(ids.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("groupRank equals the per-group window rank, NULL group included") {
    // NULL group key: the PARTITION BY window keeps it as its own
    // partition — groupRank must too (r9 review: an inner equi-join on
    // the group key silently dropped NULL-group rows)
    val df = Seq(
      (Some("A"), 30L), (Some("A"), 10L), (Some("A"), 20L),
      (Some("B"), 5L), (Some("B"), 15L),
      (None, 7L), (None, 3L))
      .toDF("g", "v")
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val expected = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .select("g", "v", "rn", "n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val got = Ids.groupRank(df, "g", Seq("v"))
      .select("g", "v", "rn", "n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === expected)
    assert(got.size === 7, "no row may vanish (NULL group)")
  }
}
