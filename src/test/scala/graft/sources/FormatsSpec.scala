package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format coverage: parquet, ORC and JSON-lines round-trips
  * through the same FileBarSource contract, with pushdown checked where
  * the format supports it.
  */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private val bars = Seq(
    ("A", "2024-01-01", 10.0, 12.0, 11.5, 100L),
    ("A", "2024-01-02", 11.5, 13.0, 12.5, 110L),
    ("B", "2024-01-01", 20.0, 21.0, 20.5, 200L),
    ("B", "2024-03-01", 22.0, 23.0, 22.5, 210L)
  ).toDF("Symbol", "Date", "Low", "High", "Close", "Volume")
    .withColumn("Date", to_date($"Date"))

  private val barSchema = StructType(Seq(
    StructField("Symbol", StringType), StructField("Date", DateType),
    StructField("Low", DoubleType), StructField("High", DoubleType),
    StructField("Close", DoubleType), StructField("Volume", LongType)))

  private val symbols = Seq("A", "B").toDF("Symbol")
  private val jan1 = java.sql.Date.valueOf("2024-01-01")
  private val jan31 = java.sql.Date.valueOf("2024-01-31")

  private def roundTrip(format: String, schema: Option[StructType]): Unit = {
    val dir = Files.createTempDirectory(s"graft_$format").toString + "/bars"
    bars.write.format(format).save(dir)
    val got = new FileBarSource(dir, format, schema)
      .fetch(spark, symbols, jan1, jan31)
      .select($"Symbol", to_date($"Date").as("Date"), $"Low", $"High",
        $"Close", $"Volume".cast(LongType))
      .collect().map(_.toSeq).toSet
    val want = bars.where($"Date" <= lit(jan31)).collect().map(_.toSeq).toSet
    assert(got == want, s"$format round-trip mismatch")
  }

  // the columnar formats carry their own schema
  for (format <- Seq("orc", "parquet"))
    test(s"$format round-trips typed bars through FileBarSource") {
      roundTrip(format, None)
    }

  test("json-lines round-trips bars with an explicit schema") {
    roundTrip("json", Some(barSchema))
  }

  test("json without a schema is rejected (no inference at scale)") {
    intercept[IllegalArgumentException] {
      new FileBarSource("/tmp/x", "json", None)
        .fetch(spark, symbols, jan1, jan31)
    }
  }

  for (format <- Seq("orc", "parquet"))
    test(s"$format scan gets the date predicate pushed to the source") {
      val dir = Files.createTempDirectory(s"graft_${format}_push").toString +
        "/bars"
      bars.write.format(format).save(dir)
      val plan = new FileBarSource(dir, format, None)
        .fetch(spark, symbols, jan1, jan31)
        .queryExecution.executedPlan.toString
      assert("PushedFilters: \\[[^\\]]*Date".r.findFirstIn(plan).nonEmpty,
        s"expected pushed date filter in $format scan:\n$plan")
    }

  test("permissive json: a corrupt line drops, good rows survive") {
    val dir = Files.createTempDirectory("graft_json_bad").toString
    Files.write(java.nio.file.Paths.get(dir, "bars.json"), java.util.Arrays.asList(
      """{"Symbol":"A","Date":"2024-01-01","Low":1.0,"High":2.0,"Close":1.5,"Volume":10}""",
      """{"Symbol":"B","Date":"2024-01-02","Low":ZZZ NOT JSON""",
      """{"Symbol":"C","Date":"2024-01-03","Low":3.0,"High":4.0,"Close":3.5,"Volume":30}"""))
    val got = new FileBarSource(dir, "json", Some(barSchema))
      .fetch(spark, Seq("A", "B", "C").toDF("Symbol"), jan1, jan31)
    // corrupt row: all schema fields null -> fails the date filter; run survives
    assert(got.count() == 2)
  }
}
