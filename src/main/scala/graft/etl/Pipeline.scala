package graft.etl

import org.apache.spark.sql.{Observation, SparkSession}
import graft.sinks.WarehouseLoad
import graft.sources.{BarSource, ConstituentSource}

/** End-to-end orchestration of the reference pipeline (SURVEY §2.11
  * C1–C5): extract constituents → fetch bars → normalize/enrich →
  * consolidate → CSV stage with the quality summary → warehouse append
  * with consume-once semantics → verify aggregate.
  *
  * The reference runs these as five Airflow tasks exchanging XCom values;
  * here they are stages of one Spark application exchanging a RunContext.
  * Stage boundaries that were process hops become plan sections. A run
  * reads its bar source once: the CSV stage write is the only action over
  * it, and the quality summary is observed on that write. The other
  * actions are the bounded collect of the cleaned symbol list, the
  * warehouse append and the verify.
  */
object Pipeline {

  /** C2: the values the reference passes through XCom. */
  final case class RunReport(
      nSymbols: Long, nRows: Long,
      minDate: String, maxDate: String,
      stagePath: String, warehousePath: String,
      loadedRows: Long)

  /** C3: retry wrapper for the nondeterministic (source-fetch) stages.
    *
    * Scope in [[run]]: the two actions that read a source. One is the
    * collect of the cleaned symbol list, which fetches the constituents.
    * The other is the observed CSV stage write, the run's first and only
    * materialization of the distributed bar read. A dead, missing or
    * unauthorized source, or a transient failure in any partition of the
    * read, fails inside the retry loop and the whole action re-runs —
    * matching the reference's whole-task retry semantics. The stage write
    * overwrites its directory, so a re-run after a failed attempt is
    * idempotent. Partition-grain transient I/O beyond that is Spark's own
    * job: task retries (`spark.task.maxFailures`) and stage re-attempts
    * re-run exactly the failed partitions — re-fetching everything at the
    * driver level per task failure would be the wrong granularity at
    * 100 TB.
    */
  @annotation.tailrec
  def retry[T](attempts: Int, delayMs: Long)(f: => T): T =
    util.Try(f) match {
      case util.Success(v) => v
      case util.Failure(e) if attempts > 1 =>
        Thread.sleep(delayMs)
        retry(attempts - 1, delayMs)(f)
      case util.Failure(e) => throw e
    }

  def run(spark: SparkSession,
      constituents: ConstituentSource,
      bars: BarSource,
      start: java.sql.Date, end: java.sql.Date,
      stageDir: String, warehouseDir: String,
      retries: Int = 2, retryDelayMs: Long = 100L,
      maxSymbols: Option[Int] = None): RunReport = {

    // stage 1: extract + clean symbols (C5: hard-fail on empty input;
    // P5: maxSymbols test knob). One collect, bounded by the constituent
    // list; the bar source gets the list back as a local relation, so its
    // broadcast semi-join does not read the constituent source again.
    val (symbolSchema, symbolRows) = retry(retries, retryDelayMs) {
      val df = StockEtl.cleanSymbols(constituents.fetch(spark), maxSymbols = maxSymbols)
      (df.schema, df.collect())
    }
    require(symbolRows.nonEmpty, "no valid symbols extracted") // DAG:64–65
    val symbols = spark.createDataFrame(java.util.Arrays.asList(symbolRows: _*), symbolSchema)

    // stages 2–4: fetch + normalize + enrich (one distributed read replaces
    // the reference's ~500-iteration driver loop; C4 tolerance is in the
    // PERMISSIVE source read), consolidate, and the CSV stage sink (S4
    // option parity), with the quality summary (A1–A4) observed on the
    // write. The observation sits on the consolidated one-partition frame,
    // so it runs in the write's result stage, where Spark merges each
    // task's metrics once; in a shuffle-map stage a stage retry could
    // count rows twice. An Observation is single-use: one per attempt.
    val stagePath = s"$stageDir/stock_stage"
    val q = retry(retries, retryDelayMs) {
      val staged = StockEtl.consolidate(
        StockEtl.enrich(StockEtl.normalize(bars.fetch(spark, symbols, start, end))))
      val obs = Observation()
      val aggs = StockEtl.qualityAggs(staged)
      StockEtl.writeCsvStage(staged.observe(obs, aggs.head, aggs.tail: _*), stagePath)
      obs.get
    }
    // C5 empty-fetch guard (DAG:209–210). Metrics arrive only from a
    // CollectMetrics node that survives planning; a rule that prunes an
    // empty subtree could take it along, so absent metrics mean no rows.
    // The guard fires after the write: purge what it staged first.
    val nRows = q.get("n_rows").fold(0L)(_.asInstanceOf[Long])
    if (nRows == 0L) WarehouseLoad.purge(spark, stagePath)
    require(nRows > 0L, "no bars fetched for any symbol")

    // stage 5: warehouse append + consume-once (S6)
    val loaded = WarehouseLoad.appendAndPurge(spark, stagePath, warehouseDir)
    // stage 6: S7 post-load verification aggregate (DAG:380–386) — the
    // warehouse must actually CONTAIN at least the rows this run
    // appended; a silent short write fails the run here, not downstream.
    // Only the row count is projected, so the optimizer prunes the
    // distinct-symbol aggregate from this read.
    val total = WarehouseLoad.verifyDf(spark, warehouseDir)
      .select("total_rows").head().getLong(0)
    require(total >= loaded,
      s"post-load verify: warehouse has $total rows, run appended $loaded")
    RunReport(q("n_symbols").asInstanceOf[Long], nRows,
      String.valueOf(q("min_date")), String.valueOf(q("max_date")),
      stagePath, warehouseDir, loaded)
  }
}
