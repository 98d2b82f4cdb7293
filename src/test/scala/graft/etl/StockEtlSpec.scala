package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Reference-parity semantics (SURVEY §2.2/§2.5/§7.5 traps). */
class StockEtlSpec extends SparkSpec {
  import spark.implicits._

  private def bars(rows: (String, String, Double, Double, Double, Double, Long)*) =
    rows.toDF("Date", "Symbol", "Open", "High", "Low", "Close", "Volume")
      .withColumn("Date", to_date($"Date"))

  test("W1/W2: first row per symbol gets 0, not null; later rows get lag diffs") {
    val df = StockEtl.enrich(bars(
      ("2024-01-01", "AAA", 10.0, 12.0, 9.0, 10.0, 100L),
      ("2024-01-02", "AAA", 10.5, 13.0, 10.0, 11.0, 110L),
      ("2024-01-01", "BBB", 5.0, 5.5, 4.5, 5.0, 50L)))
    val m = df.collect().map(r => (r.getString(1), r.getDate(0).toString) -> r).toMap
    assert(m(("AAA", "2024-01-01")).getAs[Double]("Close_Change") == 0.0)
    assert(m(("AAA", "2024-01-02")).getAs[Double]("Close_Change") == 1.0)
    assert(m(("AAA", "2024-01-02")).getAs[Double]("Close_Pct_Change") == 10.0)
    assert(m(("BBB", "2024-01-01")).getAs[Double]("Close_Pct_Change") == 0.0)
  }

  test("batch-scoped windows: lag does not cross batch boundaries") {
    val withBatch = bars(
      ("2024-01-01", "AAA", 10.0, 12.0, 9.0, 10.0, 100L),
      ("2024-01-02", "AAA", 10.5, 13.0, 10.0, 11.0, 110L))
      .withColumn("batch_id", when($"Date" === "2024-01-02", 2).otherwise(1))
    val df = StockEtl.enrich(withBatch, batchCol = Some("batch_id"))
    // both rows are batch-first → both Close_Change = 0 (the reference's
    // DATA_RETENTION_DAYS=1 behavior, SURVEY §2.5)
    assert(df.select("Close_Change").as[Double].collect().forall(_ == 0.0))
  }

  test("rounding is banker's (half-to-even) like pandas") {
    val df = StockEtl.enrich(bars(("2024-01-01", "AAA", 1.0, 2.125, 1.0, 2.125, 1L)))
    // bround(2.125, 2) = 2.12 (half-even); Spark round() would give 2.13
    assert(df.select("Close").as[Double].head() == 2.12)
  }

  test("null discipline: rows with null Close dropped; other nulls preserved") {
    val df = StockEtl.enrich(Seq(
      ("2024-01-01", "AAA", Some(10.0), Some(12.0), Some(9.0), Some(10.0), Some(100L)),
      ("2024-01-02", "AAA", None: Option[Double], Some(13.0), Some(10.0), None: Option[Double], Some(110L)),
      ("2024-01-03", "AAA", None: Option[Double], Some(13.5), Some(10.5), Some(11.0), None: Option[Long]))
      .toDF("Date", "Symbol", "Open", "High", "Low", "Close", "Volume")
      .withColumn("Date", to_date($"Date")))
    val rows = df.orderBy("Date").collect()
    assert(rows.length == 2) // null-Close row dropped (DAG:186)
    assert(rows(1).isNullAt(rows(1).fieldIndex("Open")))   // preserved (DAG:182)
    assert(rows(1).isNullAt(rows(1).fieldIndex("Volume")))
  }

  test("Daily_Range_Pct: pandas division semantics — x/0 → +Infinity, 0/0 → 0") {
    // pandas: (High-Low)/0 = +inf, and fillna(0) PRESERVES ±Infinity (it
    // only replaces NaN). Spark's non-ANSI /0 → null would have silently
    // become 0 — the engine emits Infinity explicitly instead.
    val inf = StockEtl.enrich(bars(("2024-01-01", "AAA", 1.0, 2.0, 0.0, 1.0, 1L)))
      .select("Daily_Range_Pct").as[Double].head()
    assert(inf.isPosInfinity, s"expected +Infinity, got $inf")
    // 0/0 is NaN in pandas, which fillna(0) DOES replace
    val zero = StockEtl.enrich(bars(("2024-01-01", "AAA", 1.0, 0.0, 0.0, 1.0, 1L)))
      .select("Daily_Range_Pct").as[Double].head()
    assert(zero == 0.0)
  }

  test("Close_Pct_Change: zero previous Close yields +Infinity like pandas") {
    val df = StockEtl.enrich(bars(
      ("2024-01-01", "AAA", 0.0, 0.5, 0.0, 0.0, 1L),
      ("2024-01-02", "AAA", 1.0, 2.0, 1.0, 2.0, 1L)))
    val m = df.collect().map(r => r.getDate(0).toString -> r).toMap
    val v = m("2024-01-02").getAs[Double]("Close_Pct_Change")
    assert(v.isPosInfinity, s"expected +Infinity (2/0 - 1)*100, got $v")
  }

  test("symbol cleaning: trim, length, charset (BRK.B admitted, 6-char rejected)") {
    val raw = Seq("  AAPL ", "BRK.B", "TOOLONG", "BAD_1", "", null, "GO-1")
      .toDF("Symbol")
    val out = StockEtl.cleanSymbols(raw).as[String].collect().toSet
    assert(out == Set("AAPL", "BRK.B", "GO-1")) // ≤5 chars; '_' rejected

  }

  test("unionBars aligns differing schemas by name with null fill") {
    val a = Seq(("2024-01-01", "AAA", 1.0)).toDF("Date", "Symbol", "Close")
    val b = Seq(("2024-01-02", "BBB", 2.0, 10L)).toDF("Date", "Symbol", "Close", "Volume")
    val u = StockEtl.unionBars(Seq(a, b))
    assert(u.columns.toSet == Set("Date", "Symbol", "Close", "Volume"))
    assert(u.where($"Symbol" === "AAA").select("Volume").head().isNullAt(0))
  }

  test("normalize: rename map + coercing casts") {
    val raw = Seq(("2024-01-01", "1.5", "oops", 3L))
      .toDF("Date", "AdjClose", "Open", "Volume")
    val out = StockEtl.normalize(raw)
    assert(out.columns.contains("Adj_Close"))
    assert(out.select("Open").head().isNullAt(0)) // bad token → null
  }

  test("qualitySummary: one-pass counts/nulls") {
    val df = bars(("2024-01-01", "AAA", 10.0, 12.0, 9.0, 10.0, 100L),
      ("2024-01-01", "BBB", 5.0, 5.5, 4.5, 5.0, 50L))
    val r = StockEtl.qualitySummary(df).head()
    assert(r.getAs[Long]("n_rows") == 2L)
    assert(r.getAs[Long]("n_symbols") == 2L)
    assert(r.getAs[Long]("nulls_Open") == 0L)
  }

  test("qualityAggs observed on a write equal qualitySummary, nulls in several columns") {
    val df = Seq(
      ("2024-01-01", "AAA", Some(10.0), Some(12.0), Some(100L)),
      ("2024-01-02", "AAA", None, Some(13.0), None),
      ("2024-01-02", "BRK.B", Some(5.0), None, None),
      ("2024-01-03", null, None, Some(1.0), Some(7L)),
      (null, "BBB", Some(1.0), Some(2.0), Some(3L)))
      .toDF("Date", "Symbol", "Open", "High", "Volume")
      .withColumn("Date", to_date($"Date"))
      .repartition(3)
    val want = StockEtl.qualitySummary(df).head()
    val obs = org.apache.spark.sql.Observation()
    val aggs = StockEtl.qualityAggs(df)
    df.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    assert(obs.get == want.getValuesMap[Any](want.schema.fieldNames))
    assert(want.getAs[Long]("n_symbols") == 3L && want.getAs[Long]("nulls_Open") == 2L &&
      want.getAs[Long]("nulls_Volume") == 2L && want.getAs[Long]("nulls_Date") == 1L)
  }

  test("consolidate stages the same bytes as a global orderBy + coalesce(1)") {
    // five days of three symbols over four partitions: ±Infinity pct
    // changes (zero previous Close), a NaN Open, a null Volume, BRK.B
    val rows = for {
      (sym, i) <- Seq("AAA", "BRK.B", "ZZ-A").zipWithIndex
      d <- 1 to 5
    } yield {
      val close = if (sym == "AAA" && d == 2) 0.0 else if (sym == "ZZ-A" && d == 4) -2.0
        else 10.0 * (i + 1) + d * 0.125
      val open = if (sym == "BRK.B" && d == 3) Double.NaN else close - 0.5
      (f"2024-01-0$d", sym, Option(open), Option(close + 1.0), Option(close - 1.0),
        Option(close), if (d == 5) None else Some(100L * d))
    }
    val zeroPrev = Seq(("2024-01-03", "ZZ-A", Some(0.0), Some(1.0), Some(0.0), Some(0.0), Some(1L)))
    val df = StockEtl.enrich((rows.filterNot(r => r._1 == "2024-01-03" && r._2 == "ZZ-A") ++ zeroPrev)
      .toDF("Date", "Symbol", "Open", "High", "Low", "Close", "Volume")
      .withColumn("Date", to_date($"Date")))
      .repartition(4)
    val pct = df.select("Close_Pct_Change").as[Double].collect()
    assert(pct.exists(_.isPosInfinity) && pct.exists(_.isNegInfinity))
    val dir = java.nio.file.Files.createTempDirectory("consolidate").toString
    def staged(out: String, frame: org.apache.spark.sql.DataFrame): Array[Byte] = {
      StockEtl.writeCsvStage(frame, s"$dir/$out")
      val csvs = new java.io.File(s"$dir/$out").listFiles().filter(_.getName.endsWith(".csv"))
      assert(csvs.length == 1, s"$out: ${csvs.length} csv files")
      java.nio.file.Files.readAllBytes(csvs.head.toPath)
    }
    val sorted = staged("sorted", df.orderBy("Date", "Symbol"))
    val consolidated = staged("consolidated", StockEtl.consolidate(df))
    val text = new String(consolidated, "UTF-8")
    assert(text.contains("\"inf\"") && text.contains("\"-inf\"") && text.contains("BRK.B"))
    assert(java.util.Arrays.equals(sorted, consolidated),
      s"staged bytes differ:\n${new String(sorted, "UTF-8")}\n---\n$text")
  }

  test("csv stage sink: quote-all, %.4f, empty-for-null round trip") {
    val dir = java.nio.file.Files.createTempDirectory("csvstage").toString
    val df = StockEtl.enrich(bars(
      ("2024-01-01", "AAA", 10.0, 12.0, 9.0, 10.0, 100L)))
    StockEtl.writeCsvStage(df, s"$dir/out")
    val line = scala.io.Source.fromFile(
      new java.io.File(s"$dir/out").listFiles().filter(_.getName.endsWith(".csv")).head)
      .getLines().toSeq
    assert(line.head.startsWith("\"Date\""))
    assert(line(1).contains("\"10.0000\"")) // %.4f float format
  }
}
