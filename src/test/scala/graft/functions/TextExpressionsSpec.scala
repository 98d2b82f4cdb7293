package graft.functions

import graft.SparkSpec
import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._

class TextExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // U+00E9 (composed) vs "e" + U+0301 (decomposed): canonically equivalent
  private val composed = "café"
  private val decomposed = "café"

  test("NFC unifies composed and decomposed forms; NFD round-trips") {
    val df = Seq((1, composed), (2, decomposed)).toDF("id", "s")
      .select($"id", TextFunctions.unicodeNormalize($"s", "NFC").as("nfc"),
        TextFunctions.unicodeNormalize($"s", "NFD").as("nfd"))
    val rows = df.collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows(1)._1 == rows(2)._1, "NFC forms must be byte-identical")
    assert(rows(1)._2 == rows(2)._2, "NFD forms must be byte-identical")
    assert(rows(1)._1 == composed)
    assert(rows(1)._2 == decomposed)
  }

  test("null propagates; invalid form rejected at construction") {
    val df = Seq(Option.empty[String]).toDF("s")
      .select(TextFunctions.unicodeNormalize($"s").as("n"))
    assert(df.head().isNullAt(0))
    intercept[IllegalArgumentException] {
      TextExpressions.UnicodeNormalize(
        org.apache.spark.sql.GraftExpressionBridge.expression(lit("x")), "NFX")
    }
  }

  test("SQL registration via session extensions path") {
    graft.GraftExtensions.register(spark)
    val out = spark.sql(
      s"SELECT unicode_normalize('$decomposed', 'NFC') AS n").head().getString(0)
    assert(out == composed)
  }

  test("canonicalize: accents folded, case folded, whitespace collapsed") {
    val df = Seq("  CAFÉ  du\t Zürich ", "café du zurich")
      .toDF("s").select(TextAnalysis.canonicalize($"s").as("c"))
    val out = df.collect().map(_.getString(0))
    assert(out(0) == "cafe du zurich")
    assert(out(1) == "cafe du zurich")
  }

  test("codegen and interpreted eval agree") {
    val df = Seq(composed, decomposed, "plain ascii", "").toDF("s")
    val gen = df.select(TextFunctions.unicodeNormalize($"s", "NFKC")).collect()
    // force interpreted path by evaluating the expression directly
    val expr = TextExpressions.UnicodeNormalize(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.StringType, nullable = true), "NFKC")
    val interp = Seq(composed, decomposed, "plain ascii", "").map { s =>
      expr.eval(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))).toString
    }
    assert(gen.map(_.getString(0)).toSeq == interp)
  }
}
