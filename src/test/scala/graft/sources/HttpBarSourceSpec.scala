package graft.sources

import graft.SparkSpec
import graft.etl.Pipeline
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Distributed live-fetch bar source against a local-HTTP fixture (the
  * S1-spec pattern): per-symbol CSV endpoints, UA/timeout/non-2xx
  * contract, per-symbol skip-on-error with the failure accumulator, the
  * ≥1-success invariant through the full pipeline, and END-TO-END parity —
  * the HTTP-fetched pipeline must land the exact same warehouse as the
  * offline CsvBarSource over the same bars.
  */
class HttpBarSourceSpec extends SparkSpec {

  // The PipelineSpec bar fixture, sliced per symbol the way a per-ticker
  // download endpoint serves it (Symbol column omitted — the source adds
  // it): same good rows, same traps (unparseable date, null Close,
  // out-of-range date, missing Volume cell).
  private val perSymbolCsv = Map(
    "AAA" ->
      """Date,Open,High,Low,Close,AdjClose,Volume
        |2024-01-02,10.00,12.00,9.00,10.00,10.00,100
        |2024-01-03,10.50,13.00,10.00,11.00,11.00,110
        |not-a-date,1,1,1,1,1,1
        |2024-01-04,2.0,2.0,2.0,,2.0,5
        |2023-06-01,1,1,1,1,1,1""".stripMargin,
    "BBB" ->
      """Date,Open,High,Low,Close,AdjClose,Volume
        |2024-01-02,5.00,5.50,4.50,5.00,5.00,50""".stripMargin,
    "BRK.B" ->
      """Date,Open,High,Low,Close,AdjClose,Volume
        |2024-01-02,300.0,305.0,295.0,302.125,302.0,""".stripMargin)

  private val fixtureHtml =
    """<html><body><table>
      |<tr><th>Symbol</th><th>Security</th></tr>
      |<tr><td>AAA</td><td>Alpha</td></tr>
      |<tr><td>BBB</td><td>Beta</td></tr>
      |<tr><td>BRK.B</td><td>Berkshire B</td></tr>
      |</table></body></html>""".stripMargin

  private val barColumns =
    Seq("Date", "Open", "High", "Low", "Close", "AdjClose", "Volume")

  /** Starts a per-symbol bar server; `broken` symbols answer 500.
    * Records every request's UA and query string.
    */
  private def withServer[T](broken: Set[String] = Set.empty)(
      f: (String, () => Seq[(String, String, String)]) => T): T = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    server.createContext("/bars/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val sym = java.net.URLDecoder.decode(
          ex.getRequestURI.getPath.stripPrefix("/bars/"), "UTF-8")
        seen.add((sym, ex.getRequestHeaders.getFirst("User-Agent"),
          String.valueOf(ex.getRequestURI.getQuery)))
        if (broken(sym)) { ex.sendResponseHeaders(500, -1L); ex.close() }
        else perSymbolCsv.get(sym) match {
          case Some(csv) =>
            val body = csv.getBytes("UTF-8")
            ex.sendResponseHeaders(200, body.length.toLong)
            ex.getResponseBody.write(body); ex.close()
          case None => ex.sendResponseHeaders(404, -1L); ex.close()
        }
      }
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try f(s"$base/bars/{symbol}?start={start}&end={end}",
      () => { import scala.jdk.CollectionConverters._; seen.asScala.toSeq })
    finally server.stop(0)
  }

  private def symbolsDf = {
    import spark.implicits._
    Seq("AAA", "BBB", "BRK.B").toDF("Symbol")
  }
  private val jan1 = java.sql.Date.valueOf("2024-01-01")
  private val jan31 = java.sql.Date.valueOf("2024-01-31")

  test("distributed fetch: all symbols' bars, UA sent, date range pushed into the request") {
    withServer() { (tpl, seen) =>
      val src = new HttpBarSource(tpl, userAgent = "graft-test/1.0",
        columns = barColumns)
      val rows = src.fetch(spark, symbolsDf, jan1, jan31).collect()
      // in-range, parseable-date rows survive: 3×AAA (null-Close row is
      // normalize's job, not the source's) + BBB + BRK.B
      assert(rows.length == 5, rows.mkString("\n"))
      val bySym = rows.groupBy(_.getString(0))
      assert(bySym.keySet == Set("AAA", "BBB", "BRK.B"))
      assert(bySym("AAA").length == 3) // not-a-date + out-of-range dropped
      // missing trailing Volume cell → null, not a failure (C4)
      assert(bySym("BRK.B").head.isNullAt(barColumns.indexOf("Volume") + 1))
      assert(src.failedSymbols.isEmpty)
      // S1 contract + S3 pushdown visible on the wire
      val reqs = seen()
      assert(reqs.map(_._1).toSet == Set("AAA", "BBB", "BRK.B"))
      assert(reqs.forall(_._2 == "graft-test/1.0"))
      assert(reqs.forall(_._3 == "start=2024-01-01&end=2024-01-31"))
    }
  }

  test("quoted provider CSV: embedded commas and doubled quotes never shift columns") {
    assert(HttpBarSource.splitCsvLine("2024-01-02,\"1,234,567\",a").toSeq ==
      Seq("2024-01-02", "1,234,567", "a"))
    assert(HttpBarSource.splitCsvLine("a,\"he said \"\"hi\"\"\",c").toSeq ==
      Seq("a", "he said \"hi\"", "c"))
    assert(HttpBarSource.splitCsvLine("a,\"unterminated,b").toSeq ==
      Seq("a", "unterminated,b")) // degrade, never throw (C4)
    assert(HttpBarSource.splitCsvLine("plain,row,3").toSeq ==
      Seq("plain", "row", "3"))
    assert(HttpBarSource.splitCsvLine("trailing,empty,").toSeq ==
      Seq("trailing", "empty", ""))
  }

  test("per-symbol skip-on-error: a 500 ticker is recorded and skipped, the rest fetch") {
    withServer(broken = Set("BBB")) { (tpl, _) =>
      val src = new HttpBarSource(tpl, columns = barColumns)
      val rows = src.fetch(spark, symbolsDf, jan1, jan31).collect()
      assert(rows.map(_.getString(0)).toSet == Set("AAA", "BRK.B"))
      assert(src.failedSymbols.exists(m =>
        m.startsWith("BBB:") && m.contains("HTTP 500")), src.failedSymbols)
    }
  }

  test("C4 invariant: every symbol failing still raises 'no bars fetched' in the pipeline") {
    withServer(broken = Set("AAA", "BBB", "BRK.B")) { (tpl, _) =>
      val tmp = java.nio.file.Files.createTempDirectory("httpbars_fail").toString
      val ex = intercept[IllegalArgumentException] {
        Pipeline.run(spark,
          new HtmlTableConstituentSource(() => fixtureHtml),
          new HttpBarSource(tpl, columns = barColumns),
          jan1, jan31, s"$tmp/stage", s"$tmp/warehouse")
      }
      assert(ex.getMessage.contains("no bars fetched"))
      graft.etl.PipelineSpec.assertNothingLanded(s"$tmp/stage", s"$tmp/warehouse")
    }
  }

  test("end-to-end parity: the HTTP-fetched pipeline lands the same warehouse as CsvBarSource") {
    val tmp = java.nio.file.Files.createTempDirectory("httpbars_par").toString
    // offline twin: the same bars as ONE csv with a Symbol column (plus a
    // non-constituent row the semi-join drops — HTTP never requests it)
    val f = new java.io.PrintWriter(s"$tmp/bars.csv")
    f.println("Date,Symbol,Open,High,Low,Close,AdjClose,Volume")
    perSymbolCsv.foreach { case (sym, csv) =>
      csv.linesIterator.drop(1).foreach { ln =>
        val cells = ln.split(",", -1)
        f.println((cells.head +: sym +: cells.tail).mkString(","))
      }
    }
    f.println("2024-01-02,ZZZ,1,1,1,1,1,1")
    f.close()
    val csvReport = Pipeline.run(spark,
      new HtmlTableConstituentSource(() => fixtureHtml),
      new CsvBarSource(s"$tmp/bars.csv"),
      jan1, jan31, s"$tmp/stage_csv", s"$tmp/wh_csv")
    val httpReport = withServer() { (tpl, _) =>
      Pipeline.run(spark,
        new HtmlTableConstituentSource(() => fixtureHtml),
        new HttpBarSource(tpl, columns = barColumns),
        jan1, jan31, s"$tmp/stage_http", s"$tmp/wh_http")
    }
    assert(httpReport.loadedRows == csvReport.loadedRows)
    assert(httpReport.nRows == csvReport.nRows)
    assert(httpReport.nSymbols == csvReport.nSymbols)
    def warehouse(dir: String) =
      // load_file is per-run provenance (the staged part file's unique
      // name) — compare the DATA, not which file carried it
      spark.read.parquet(dir).drop("load_file").collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(warehouse(s"$tmp/wh_http") == warehouse(s"$tmp/wh_csv"))
  }
}
