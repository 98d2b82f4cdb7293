package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {

  test("co-bucketed join plans with zero exchanges and matches the plain join") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1) // force SMJ
    try {
      Bucketing.writeBucketed(
        graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
        "li_bucketed", "l_orderkey", buckets = 4)
      Bucketing.writeBucketed(
        graft.Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
        "ord_bucketed", "o_orderkey", buckets = 4)

      val li = spark.table("li_bucketed")
      val ord = spark.table("ord_bucketed")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val plan = joined.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(plan).size
      assert(exchanges == 0,
        s"co-bucketed join still shuffles ($exchanges exchanges):\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan did not use bucketing:\n$plan")

      // results equal the unbucketed join
      val plain = graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
        .join(graft.Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
          col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() == plain.count())
      // exact-cents sums: order-independent, so bucketed vs shuffled
      // accumulation order cannot flip low-order bits
      def sums(df: org.apache.spark.sql.DataFrame) = df.agg(
        graft.ExactNum.exactSum(col("l_quantity"), 0),
        graft.ExactNum.exactSum(col("o_totalprice"), 2)).head()
      assert(sums(joined) == sums(plain))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("aggregation on the bucket key needs no exchange either") {
    // relies on li_bucketed written by the previous test (same suite order)
    val agg = spark.table("li_bucketed")
      .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
    val plan = agg.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges == 0,
      s"bucketed aggregation still shuffles ($exchanges exchanges):\n$plan")
  }
}
