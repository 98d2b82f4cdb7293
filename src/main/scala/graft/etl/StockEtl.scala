package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity stock ETL transforms.
  *
  * Re-expresses the reference pipeline's transform surface
  * (`/root/reference/dags/sp500_dag.py.py` — enrichment at lines 159–194,
  * constituent cleaning at 51–60, quality summary at 219–227) as pure,
  * composable `DataFrame => DataFrame` functions. Architecture is
  * Spark-first: the reference's per-symbol Python loop + concat becomes a
  * single partitioned computation with window functions over
  * `partitionBy(Symbol)`; Catalyst provides pushdown/pruning that the
  * reference hand-codes.
  *
  * Parity traps handled here (SURVEY §7.5):
  *  - pandas `round` is half-to-even → use `bround`, not `round` (DAG:176–180)
  *  - `fillna(0)` applies ONLY to Close_Change / Close_Pct_Change /
  *    Daily_Range_Pct (DAG:161–167); all other nulls preserved (DAG:182)
  *  - lag windows are scoped to the ingest batch, not all history (DAG:21,
  *    DATA_RETENTION_DAYS): partition by (Symbol, batch) when a batch column
  *    is present
  *  - rows with null Date/Symbol/Close are dropped (DAG:186)
  */
object StockEtl {

  /** Final 11-column sink layout (DAG:189–190). */
  val finalColumns: Seq[String] = Seq(
    "Date", "Symbol", "Open", "High", "Low", "Close", "Volume",
    "Close_Change", "Close_Pct_Change", "Daily_Range", "Daily_Range_Pct")

  /** Canonical rename map (DAG:141–155): raw source spellings → canonical. */
  val renameMap: Map[String, String] = Map(
    "Adj Close" -> "Adj_Close",
    "AdjClose" -> "Adj_Close",
    "Stock Splits" -> "Stock_Splits",
    "Capital Gains" -> "Capital_Gains")

  private val priceCols = Seq("Open", "High", "Low", "Close", "Adj_Close")
  private val derivedCols =
    Seq("Close_Change", "Close_Pct_Change", "Daily_Range", "Daily_Range_Pct")

  /** Constituent-symbol cleaning (P1–P4, DAG:47–60): trim, drop null/empty,
    * keep symbols of ≤5 chars that are alphanumeric after removing '.'/'-'
    * (admits BRK.B-style listings).
    */
  /** @param maxSymbols P5 test knob (the reference's
    *                    `MAX_SYMBOLS_FOR_TESTING` slice, DAG:20, 68–71):
    *                    keep only the first N symbols. The reference slices
    *                    in page order; a distributed `limit` is
    *                    nondeterministic, so this sorts first — deterministic
    *                    across partitionings and re-runs.
    */
  def cleanSymbols(raw: DataFrame, symbolCol: String = "Symbol",
      maxSymbols: Option[Int] = None): DataFrame = {
    require(raw.columns.contains(symbolCol),
      s"constituent table lacks required column '$symbolCol'") // P1, DAG:47–48
    val s = trim(col(symbolCol))
    val cleaned = raw.select(s.as("Symbol"))
      .where(col("Symbol").isNotNull && length(col("Symbol")) > lit(0))
      .where(length(col("Symbol")) <= 5 &&
        regexp_replace(col("Symbol"), "[.-]", "").rlike("^[A-Za-z0-9]+$"))
    maxSymbols.fold(cleaned)(n => cleaned.orderBy("Symbol").limit(n))
  }

  /** Schema normalization for one raw bar frame (P6–P11): rename to
    * canonical names, parse Date (unparseable → null, like
    * `errors='coerce'`), coerce numerics (bad token → null).
    */
  def normalize(raw: DataFrame): DataFrame = {
    val renamed = renameMap.foldLeft(raw) { case (df, (from, to)) =>
      if (df.columns.contains(from)) df.withColumnRenamed(from, to) else df
    }
    val dated =
      if (renamed.schema("Date").dataType == StringType)
        renamed.withColumn("Date", to_date(col("Date")))
      else renamed.withColumn("Date", col("Date").cast(DateType))
    (priceCols :+ "Volume").foldLeft(dated) { (df, c) =>
      if (!df.columns.contains(c)) df
      else if (c == "Volume") df.withColumn(c, col(c).cast(LongType))
      else df.withColumn(c, col(c).cast(DoubleType))
    }
  }

  /** pandas float division: x/0 → ±Infinity (sign of x), 0/0 → NaN.
    * Spark's non-ANSI division returns NULL for ANY division by zero, which
    * a fillna-style `coalesce` would silently map to 0 — diverging from the
    * reference, where `fillna(0)` replaces only NaN and PRESERVES ±Infinity.
    * This helper reproduces the IEEE behavior; compose arithmetic on top
    * (NaN/Infinity propagate correctly through Spark double ops) and apply
    * [[fillZero]] once at the end of the expression.
    */
  private def pandasDiv(num: Column, den: Column): Column =
    when(den === lit(0.0),
      // isnan FIRST: Spark comparisons order NaN greater than every
      // number, so `NaN > 0` is TRUE and would return +Infinity where
      // IEEE (and pandas) say NaN/0 = NaN
      when(isnan(num), lit(Double.NaN))
        .when(num > lit(0.0), lit(Double.PositiveInfinity))
        .when(num < lit(0.0), lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN)))
      .otherwise(num / den)

  /** `fillna(0)` parity: NULL (missing lag) and NaN (0/0) → 0.0; ±Infinity
    * passes through untouched.
    */
  private def fillZero(c: Column): Column = coalesce(nanvl(c, lit(0.0)), lit(0.0))

  /** Derived-metric enrichment (W1, W2, F8, F9, F12, P12, P14, P15).
    *
    * @param batchCol when defined, lag windows partition by (Symbol, batch)
    *                 to reproduce the reference's batch-scoped `diff()`
    *                 semantics (SURVEY §2.5 trap); `None` = full history.
    */
  def enrich(bars: DataFrame, batchCol: Option[String] = None): DataFrame = {
    val partCols = col("Symbol") +: batchCol.map(col).toSeq
    val w = Window.partitionBy(partCols: _*).orderBy(col("Date"))
    val prevClose = lag(col("Close"), 1).over(w)

    val hasHiLo = bars.columns.contains("High") && bars.columns.contains("Low")
    val enriched0 = bars
      // W1: Close.diff().fillna(0) — first row per (Symbol, batch) → 0.0.
      // fillZero, not bare coalesce: a NaN Close (coercing-cast artifact)
      // makes the diff NaN, which pandas' fillna(0) ALSO zeroes
      .withColumn("Close_Change",
        bround(fillZero(col("Close") - prevClose), 4))
      // W2: pct_change().fillna(0) * 100 — a zero previous Close yields
      // ±Infinity like pandas (NOT 0; see pandasDiv)
      .withColumn("Close_Pct_Change",
        bround(fillZero((pandasDiv(col("Close"), prevClose) - lit(1.0)) * lit(100.0)), 4))
    // F8/F9 only when the range columns exist — the P15 intersection
    // tolerance ("select only columns that exist") must hold for the
    // inputs of derived metrics too, or a High/Low-less frame throws at
    // analysis instead of simply omitting the range metrics
    val enriched = if (!hasHiLo) enriched0
    else enriched0
      // F8: High − Low
      .withColumn("Daily_Range", bround(col("High") - col("Low"), 4))
      // F9 + F12: (High−Low)/Low·100; NaN→0 but ±Infinity preserved (DAG:167)
      .withColumn("Daily_Range_Pct",
        bround(fillZero(pandasDiv(col("High") - col("Low"), col("Low")) * lit(100.0)), 4))
    // P12: prices rounded to 2 (banker's rounding for pandas parity) —
    // only the price columns actually present (a source without Open must
    // not fail here; P15 drops the absent ones from the projection anyway)
    val rounded = Seq("Open", "High", "Low", "Close")
      .filter(enriched.columns.contains)
      .foldLeft(enriched)((df, c) => df.withColumn(c, bround(col(c), 2)))
    val filtered = rounded
      // P14: essential-null filter — Date/Symbol/Close only (DAG:186);
      // other nulls are preserved deliberately (DAG:182).
      .na.drop(Seq("Date", "Symbol", "Close"))

    // P15: intersection projection — final order, silently dropping columns
    // that don't exist (e.g. Adj_Close) and tolerating missing ones.
    val keep = finalColumns.filter(filtered.columns.contains)
    filtered.select(keep.map(col): _*)
  }

  /** n-ary union of per-source frames with differing schemas (U1, DAG:213):
    * aligns by name, fills missing columns with null.
    */
  def unionBars(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "no bar frames to union") // C5, DAG:209–210
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The consolidated output (O1, DAG:216): one partition sorted by
    * (Date, Symbol). It stages the same rows in the same order as a global
    * `orderBy` followed by `coalesce(1)`, but a global sort first runs a
    * range-sampling job to pick its partition bounds; gathering into one
    * partition and sorting there needs none.
    */
  def consolidate(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions("Date", "Symbol")

  /** The quality-summary aggregates (A1–A4, DAG:219–227): total rows,
    * distinct symbols, date range and per-column null counts. One list
    * serves [[qualitySummary]] and the `Observation` that
    * [[Pipeline.run]] attaches to its stage write. Observed metrics reject
    * DISTINCT aggregates, so `n_symbols` is the size of the symbol set;
    * the constituent list bounds that set.
    */
  def qualityAggs(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    size(collect_set(col("Symbol"))).cast(LongType).as("n_symbols"),
    min(col("Date")).as("min_date"),
    max(col("Date")).as("max_date")) ++
    df.columns.toSeq.map(c => sum(col(c).isNull.cast(LongType)).as(s"nulls_$c"))

  /** Quality summary (A1–A4) in ONE pass — not one job per column, which
    * would rescan the input N times at 100 TB.
    */
  def qualitySummary(df: DataFrame): DataFrame = {
    val aggs = qualityAggs(df)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Option-parity CSV stage sink (S4, DAG:229–242): QUOTE_ALL, empty string
    * for null, `yyyy-MM-dd` dates, `%.4f` floats via pre-formatting.
    * `coalesce(1)` reproduces the reference's single-file contract — the one
    * deliberately anti-scale spot in the engine (SURVEY §7.5-4). Over a
    * [[consolidate]]d frame it is a no-op: that frame is one partition
    * already, so the write runs in the same stage as the sort and any
    * metrics observed on the frame.
    */
  def writeCsvStage(df: DataFrame, path: String): Unit = {
    val formatted = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case DoubleType =>
          // pandas float_format renders infinities as "inf"/"-inf";
          // Java's Formatter would write "Infinity" — and ±Infinity IS
          // reachable here (zero-divisor pct-change rows)
          acc.withColumn(f.name,
            when(col(f.name) === Double.PositiveInfinity, lit("inf"))
              .when(col(f.name) === Double.NegativeInfinity, lit("-inf"))
              // stray NaN = pandas NA → na_rep '' (P13: NaN→None)
              .when(isnan(col(f.name)), lit(""))
              .when(col(f.name).isNotNull, format_string("%.4f", col(f.name))))
        case DateType =>
          acc.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd"))
        case _ => acc
      }
    }
    formatted.coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .option("quoteAll", "true")
      .option("nullValue", "")
      .option("emptyValue", "\"\"")
      .csv(path)
  }

  /** Warehouse ingest (S6, DAG:348–378): error-tolerant CSV read with the
    * COPY INTO options (skip header, NULL_IF list, trim, tolerate bad rows)
    * and append-mode load. Consume-once PURGE semantics belong to the caller
    * (delete/move staged files after a successful append) — or, preferably,
    * Structured Streaming `Trigger.AvailableNow` with a checkpoint, which
    * subsumes them (see graft.streaming).
    */
  def readStagedCsv(spark: SparkSession, path: String): DataFrame = {
    // Header-driven all-string decode: columns are aligned BY NAME from the
    // file's own header, never positionally against a fixed schema — a
    // staged file that legitimately lacks optional columns (e.g. no Open
    // after the intersection projection) must not shift every later column
    // over by one. Typing is the caller's coercing-cast pass
    // (WarehouseLoad.readStaged), matching COPY's two-step decode.
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("ignoreLeadingWhiteSpace", "true")
      .option("ignoreTrailingWhiteSpace", "true")
      .option("nullValue", "")
      .option("emptyValue", "")
      .csv(path)
    // NULL_IF ('NULL','null','','\N') on string columns (numeric/date casts
    // already coerce bad tokens to null in PERMISSIVE mode).
    raw.schema.fields.filter(_.dataType == StringType).foldLeft(raw) { (df, f) =>
      df.withColumn(f.name,
        when(col(f.name).isin("NULL", "null", "", "\\N"), lit(null: String))
          .otherwise(col(f.name)))
    }
  }
}

/** Derives a deterministic OHLCV-bar table from `lineitem` so the full
  * reference enrichment (window lag analytics) is exercisable — and
  * DuckDB-oracle-checkable — on the driver's testdata. Symbol := supplier,
  * trading day := ship date, prices := extended-price stats.
  */
object StockBars {
  import graft.ExactNum.exactSum

  def fromLineitem(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
    // Group by the NARROW (suppkey, day) key and derive the symbol string
    // AFTER the aggregation (r13): `concat` is injective per suppkey, so
    // the groups are identical, but the per-row path hashes/shuffles an
    // 8-byte long instead of allocating a fresh UTF8String per input row
    // — this kernel fronts ~10 bar-analytics queries, and the string-key
    // form measured ~2x slower on the 600k-row fixture scan.
    li.groupBy(
        col("l_suppkey"),
        col("l_shipdate").cast(DateType).as("trade_date"))
      .agg(
        min(col("l_extendedprice")).as("low"),
        max(col("l_extendedprice")).as("high"),
        // exact integer-cents mean, left UNROUNDED: the division of an exact
        // sum by an exact count is bit-deterministic in any engine, while
        // rounding a mean of N trades can land on a decimal tie (N=2 →
        // x.xx5) where round-half-up and binary-round diverge.
        (exactSum(col("l_extendedprice"), 2) / count(lit(1))).as("close"),
        sum(col("l_quantity")).cast(LongType).as("volume"),
        count(lit(1)).as("n_trades"))
      .select(concat(lit("S"), col("l_suppkey")).as("symbol"),
        col("trade_date"), col("low"), col("high"), col("close"),
        col("volume"), col("n_trades"))
  }

  /** The flagship enrichment over derived bars: W1/W2/F8/F9/F12 semantics
    * with plain HALF_UP rounding (oracle-portable; the pandas-parity
    * `bround` variant lives in [[StockEtl.enrich]]).
    */
  def enriched(spark: SparkSession, dir: String): DataFrame = {
    // Derived metrics are left UNROUNDED: close is a small-denominator
    // rational (exact cents / n), and rounding such values can land on a
    // decimal tie where Spark's shortest-repr HALF_UP and a binary-rounding
    // engine disagree. Unrounded arithmetic over identical operands is
    // bit-deterministic in every engine at every scale. (The reference's
    // presentation rounding — pandas half-even — lives in StockEtl.enrich.)
    val w = Window.partitionBy(col("symbol")).orderBy(col("trade_date"))
    val prevClose = lag(col("close"), 1).over(w)
    fromLineitem(spark, dir)
      .withColumn("close_change", coalesce(col("close") - prevClose, lit(0.0)))
      .withColumn("close_pct_change",
        coalesce((col("close") / prevClose - lit(1.0)) * lit(100.0), lit(0.0)))
      .withColumn("daily_range", col("high") - col("low"))
      .withColumn("daily_range_pct",
        (col("high") - col("low")) / col("low") * lit(100.0))
  }
}
