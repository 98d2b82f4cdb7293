package graft.etl

import graft.SparkSpec
import graft.sources.{CsvBarSource, HtmlTableConstituentSource}
import org.apache.spark.sql.functions._

/** End-to-end reference-pipeline parity on authored fixtures (FIXTURES.md
  * §A): HTML constituent page → CSV bars → enrich → CSV stage → warehouse
  * append + consume-once → verify aggregate.
  */
class PipelineSpec extends SparkSpec {

  private val fixtureHtml =
    """<html><body>
      |<table class="wikitable">
      |<tr><th>Symbol</th><th>Security</th><th>GICS Sector</th></tr>
      |<tr><td>AAA</td><td>Alpha Corp</td><td>Tech</td></tr>
      |<tr><td>BRK.B</td><td>Berkshire B</td><td>Financials</td></tr>
      |<tr><td> BBB </td><td>Beta Inc</td><td>Energy</td></tr>
      |<tr><td>TOOLONG1</td><td>Rejected</td><td>None</td></tr>
      |<tr><td></td><td>Empty</td><td>None</td></tr>
      |</table>
      |<table><tr><th>Other</th></tr><tr><td>ignored second table</td></tr></table>
      |</body></html>""".stripMargin

  private def writeBarsCsv(dir: String): Unit = {
    // AAA: two days (non-zero lag on day 2); BBB: one day (all-zero lag);
    // BRK.B: AdjClose naming + missing Volume + one bad row (dropped);
    // plus an out-of-range date and a non-constituent symbol (filtered).
    val f = new java.io.PrintWriter(s"$dir/bars.csv")
    f.println("Date,Symbol,Open,High,Low,Close,AdjClose,Volume")
    f.println("2024-01-02,AAA,10.00,12.00,9.00,10.00,10.00,100")
    f.println("2024-01-03,AAA,10.50,13.00,10.00,11.00,11.00,110")
    f.println("2024-01-02,BBB,5.00,5.50,4.50,5.00,5.00,50")
    f.println("2024-01-02,BRK.B,300.0,305.0,295.0,302.125,302.0,")
    f.println("not-a-date,AAA,1,1,1,1,1,1")     // unparseable date → dropped
    // null Close → dropped. NB: placed AFTER the good days — like the
    // reference, derivation happens before the null-drop (DAG:161 vs 186),
    // so a null-Close row BETWEEN two good days nulls the next day's lag.
    f.println("2024-01-04,AAA,2.0,2.0,2.0,,2.0,5")
    f.println("2023-06-01,AAA,1,1,1,1,1,1")     // outside range → pushed-down filter
    f.println("2024-01-02,ZZZ,1,1,1,1,1,1")     // not a constituent → semi-join drop
    f.close()
  }

  test("full pipeline: extract → fetch → enrich → stage → load → verify") {
    val tmp = java.nio.file.Files.createTempDirectory("pipeline").toString
    writeBarsCsv(tmp)
    val report = Pipeline.run(spark,
      new HtmlTableConstituentSource(() => fixtureHtml),
      new CsvBarSource(s"$tmp/bars.csv"),
      java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-31"),
      stageDir = s"$tmp/stage", warehouseDir = s"$tmp/warehouse")

    assert(report.nSymbols == 3L)   // AAA, BBB, BRK.B
    assert(report.nRows == 4L)      // 2×AAA + BBB + BRK.B
    assert(report.loadedRows == 4L)

    // consume-once: staged CSVs deleted after successful load (PURGE)
    val staged = new java.io.File(report.stagePath).listFiles()
    assert(staged == null || !staged.exists(_.getName.endsWith(".csv")))

    // verify aggregate (S7/A5) over the warehouse
    val v = graft.sinks.WarehouseLoad.verify(spark, report.warehousePath)
    assert(v.getAs[Long]("total_rows") == 4L)
    assert(v.getAs[Long]("unique_symbols") == 3L)

    // value-level parity checks on the warehouse rows
    val wh = spark.read.parquet(report.warehousePath)
    val aaa2 = wh.where(col("Symbol") === "AAA" && col("Date") === "2024-01-03").head()
    assert(aaa2.getAs[Double]("Close_Change") == 1.0)
    assert(aaa2.getAs[Double]("Close_Pct_Change") == 10.0)
    val aaa1 = wh.where(col("Symbol") === "AAA" && col("Date") === "2024-01-02").head()
    assert(aaa1.getAs[Double]("Close_Change") == 0.0) // first batch row → 0
    // banker's rounding survived the CSV round-trip: 302.125 → 302.12
    val brk = wh.where(col("Symbol") === "BRK.B").head()
    assert(brk.getAs[Double]("Close") == 302.12)
    assert(brk.isNullAt(brk.fieldIndex("Volume"))) // missing column preserved as null
  }

  test("pipeline over file:// URIs: sinks and consume-once purge are scheme-aware") {
    val tmp = java.nio.file.Files.createTempDirectory("pipeuri").toString
    writeBarsCsv(tmp)
    val report = Pipeline.run(spark,
      new HtmlTableConstituentSource(() => fixtureHtml),
      new CsvBarSource(s"$tmp/bars.csv"),
      java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-31"),
      stageDir = s"file://$tmp/stage", warehouseDir = s"file://$tmp/warehouse")
    assert(report.loadedRows == 4L)
    // PURGE ran through the Hadoop FileSystem API against the URI path
    // (a java.io.File walk would silently no-op on any scheme-ful path)
    val p = new org.apache.hadoop.fs.Path(report.stagePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged =
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName) else Array.empty[String]
    assert(!staged.exists(_.endsWith(".csv")), s"stage not purged: ${staged.toSeq}")
    assert(graft.sinks.WarehouseLoad.verify(spark, report.warehousePath)
      .getAs[Long]("total_rows") == 4L)
  }

  test("pipeline fails fast on a page with no table (C5 guard)") {
    val tmp = java.nio.file.Files.createTempDirectory("pipeline2").toString
    writeBarsCsv(tmp)
    intercept[IllegalStateException] {
      Pipeline.run(spark,
        new HtmlTableConstituentSource(() => "<html><body>no table</body></html>"),
        new CsvBarSource(s"$tmp/bars.csv"),
        java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-31"),
        stageDir = s"$tmp/stage", warehouseDir = s"$tmp/warehouse")
    }
  }

  test("html parser: comments stripped; nested table does not truncate the outer one") {
    val tricky =
      """<html><body>
        |<!-- <table><tr><th>Symbol</th></tr><tr><td>FAKE</td></tr></table> -->
        |<table class="wikitable">
        |<tr><th>Symbol</th><th>Note</th></tr>
        |<tr><td>AAA</td><td><table><tr><td>inner</td></tr></table></td></tr>
        |<tr><td>BBB</td><td>plain</td></tr>
        |</table>
        |</body></html>""".stripMargin
    val df = new HtmlTableConstituentSource(() => tricky).fetch(spark)
    // the commented-out table is ignored; the row AFTER the nested table
    // still parses (the old lazy regex stopped at the inner </table>)
    val syms = df.select("Symbol").collect().map(_.getString(0)).toSet
    assert(syms.contains("BBB"), s"row after nested table lost: $syms")
    assert(!syms.contains("FAKE"), "commented-out table was parsed")
  }

  test("live HTTP constituent source: UA header sent, non-2xx raises") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenUa: String = null
    server.createContext("/constituents", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        seenUa = ex.getRequestHeaders.getFirst("User-Agent")
        val body = fixtureHtml.getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.createContext("/missing", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        ex.sendResponseHeaders(404, -1L); ex.close()
      }
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      val src = new graft.sources.HttpConstituentSource(
        s"http://127.0.0.1:$port/constituents", userAgent = "graft-test/1.0")
      val syms = StockEtl.cleanSymbols(src.fetch(spark))
      assert(syms.count() == 3L)
      assert(seenUa == "graft-test/1.0")
      intercept[IllegalArgumentException] { // require() on raise_for_status
        new graft.sources.HttpConstituentSource(
          s"http://127.0.0.1:$port/missing").fetch(spark)
      }
    } finally server.stop(0)
  }

  test("P5 limit knob: maxSymbols keeps the first N (sorted) symbols") {
    val syms = StockEtl.cleanSymbols(
      new HtmlTableConstituentSource(() => fixtureHtml).fetch(spark),
      maxSymbols = Some(2))
    import spark.implicits._
    assert(syms.as[String].collect().toSet == Set("AAA", "BBB")) // sorted first 2
  }

  test("retry: transient DISTRIBUTED read failure recovers (full run)") {
    // The executor-side fault fires in the one action that reads the bars:
    // the observed CSV stage write. The retried write must recover from it
    // and still report the quality numbers of the attempt that succeeded.
    // A filter is used (not a projected column) so no optimizer rule can
    // prune the fault out of the plan. Shared-JVM state is valid in local
    // mode.
    PipelineSpec.faultArmed.set(true)
    val tmp = java.nio.file.Files.createTempDirectory("pipeflaky").toString
    writeBarsCsv(tmp)
    val inner = new CsvBarSource(s"$tmp/bars.csv")
    val flaky = new graft.sources.BarSource {
      def fetch(s: org.apache.spark.sql.SparkSession,
          symbols: org.apache.spark.sql.DataFrame,
          start: java.sql.Date, end: java.sql.Date) = {
        val fault = udf { close: Double =>
          if (close == 5.0 && PipelineSpec.faultArmed.getAndSet(false))
            throw new RuntimeException("transient executor fault")
          true
        }
        inner.fetch(s, symbols, start, end).where(fault(col("Close")))
      }
    }
    val report = Pipeline.run(spark,
      new HtmlTableConstituentSource(() => fixtureHtml), flaky,
      java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-31"),
      stageDir = s"$tmp/stage", warehouseDir = s"$tmp/warehouse")
    assert(report.loadedRows == 4L, "run did not recover from the transient fault")
    assert(report.nRows == 4L && report.nSymbols == 3L,
      s"recovered run reported ${report.nRows} rows, ${report.nSymbols} symbols")
    assert(!PipelineSpec.faultArmed.get, "fault was never triggered")
  }

  test("C5 empty fetch: an all-out-of-range window raises and leaves no stage or warehouse") {
    val tmp = java.nio.file.Files.createTempDirectory("pipeempty").toString
    writeBarsCsv(tmp)
    // the window is empty at run time; the second source's frame is empty
    // when it is planned
    val emptyFrame = new graft.sources.BarSource {
      def fetch(s: org.apache.spark.sql.SparkSession,
          symbols: org.apache.spark.sql.DataFrame,
          start: java.sql.Date, end: java.sql.Date) =
        s.read.option("header", "true").csv(s"$tmp/bars.csv").limit(0)
    }
    Seq("csv" -> new CsvBarSource(s"$tmp/bars.csv"), "empty" -> emptyFrame).foreach {
      case (name, source) =>
        val ex = intercept[IllegalArgumentException] {
          Pipeline.run(spark,
            new HtmlTableConstituentSource(() => fixtureHtml), source,
            java.sql.Date.valueOf("2030-01-01"), java.sql.Date.valueOf("2030-01-31"),
            stageDir = s"$tmp/stage_$name", warehouseDir = s"$tmp/warehouse_$name")
        }
        assert(ex.getMessage.contains("no bars fetched"), s"$name: ${ex.getMessage}")
        PipelineSpec.assertNothingLanded(s"$tmp/stage_$name", s"$tmp/warehouse_$name")
    }
  }

  test("one read of the bars: a daily run stays within 12 jobs, one observed scan, no cache, no range sort") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.util.QueryExecutionListener
    val tmp = java.nio.file.Files.createTempDirectory("pipeaudit").toString
    writeBarsCsv(tmp)
    val (runGroup, doneGroup) = ("pipeline-audit-run", "pipeline-audit-done")
    // Job starts and query executions arrive on the same listener queue,
    // in order: once the marker job's start is seen, every event of the
    // run before it has been delivered too.
    val audit = new SparkListener with QueryExecutionListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val done = new java.util.concurrent.CountDownLatch(1)
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`runGroup`) => jobs.incrementAndGet()
          case Some(`doneGroup`) => done.countDown()
          case _ =>
        }
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(audit)
    spark.listenerManager.register(audit)
    try {
      sc.setJobGroup(runGroup, runGroup)
      val report = try Pipeline.run(spark,
        new HtmlTableConstituentSource(() => fixtureHtml),
        new CsvBarSource(s"$tmp/bars.csv"),
        java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-31"),
        stageDir = s"$tmp/stage", warehouseDir = s"$tmp/warehouse")
      finally sc.clearJobGroup()
      assert(report.loadedRows == 4L)
      sc.setJobGroup(doneGroup, doneGroup)
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(audit.done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      assert(audit.jobs.get <= 12, s"${audit.jobs.get} jobs for one fixture run")

      import scala.jdk.CollectionConverters._
      val helper = new AdaptiveSparkPlanHelper {}
      // CSV decodes of the bar file; the source's header read is a text scan
      def barScans(qe: QueryExecution) = helper.collect(qe.executedPlan) {
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] &&
            s.relation.location.rootPaths.exists(_.getName == "bars.csv") => s
      }
      // exactly one query decodes the bars: the stage write
      val readers = audit.plans.asScala.toSeq.filter(qe => barScans(qe).nonEmpty)
      assert(readers.size == 1, s"${readers.size} queries read the bars:\n" +
        readers.map(_.executedPlan).mkString("\n\n"))
      val write = readers.head.executedPlan
      assert(barScans(readers.head).size == 1, s"bars scanned twice:\n$write")
      val observed = helper.collect(write) {
        case m if m.nodeName == "CollectMetrics" => m
      }
      assert(observed.size == 1, s"expected one CollectMetrics node:\n$write")
      assert(helper.collect(write) { case c: InMemoryTableScanExec => c }.isEmpty,
        s"the write reads a cached relation:\n$write")
      assert(helper.collect(write) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }.isEmpty, s"the write range-partitions:\n$write")
    } finally {
      spark.listenerManager.unregister(audit)
      sc.removeSparkListener(audit)
    }
  }

  test("retry: transient source failure recovers") {
    var calls = 0
    val flaky = new graft.sources.ConstituentSource {
      def fetch(s: org.apache.spark.sql.SparkSession) = {
        calls += 1
        if (calls < 2) throw new RuntimeException("transient")
        new HtmlTableConstituentSource(() => fixtureHtml).fetch(s)
      }
    }
    val syms = StockEtl.cleanSymbols(Pipeline.retry(2, 1L) { flaky.fetch(spark) })
    assert(syms.count() == 3L)
    assert(calls == 2)
  }
}

object PipelineSpec {
  /** armed → the next executor task that sees the marker row throws once */
  val faultArmed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A failed run staged no CSV and created no warehouse. */
  def assertNothingLanded(stageDir: String, warehouseDir: String): Unit = {
    import org.scalatest.Assertions.assert
    val staged = Option(new java.io.File(s"$stageDir/stock_stage").listFiles())
      .getOrElse(Array.empty).map(_.getName)
    assert(!staged.exists(_.endsWith(".csv")), s"staged csv left behind: ${staged.toSeq}")
    assert(!new java.io.File(warehouseDir).exists(), s"$warehouseDir was created")
  }
}
