package perfbench

import java.io.File
import java.sql.Date
import java.time.LocalDate
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.etl.Pipeline
import graft.sinks.WarehouseLoad
import graft.sources.{CsvConstituentSource, FileBarSource}

/** The reference's own job. Bulk: a backfill `Pipeline.run` of the first
  * `backfillDays` trading days into a fresh warehouse. Small op: a daily
  * `Pipeline.run` over a 2-trading-day window appended to that warehouse,
  * which grows through the round. Bars come from a date-ordered CSV history
  * through `FileBarSource`, constituents from CSV. */
final class StockEtlWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import StockEtlWorkload._

  private val nSymbols = 500
  private val historyDays = 250
  private val backfillDays = 30
  private val dailyOps = 2
  private val warmDailies = 2
  private var data: Generators.Bars = _
  def roundSeconds: Double = 12.0
  private lazy val valid = data.valid
  /** The bars of valid symbols whose date parses, with that date. */
  private lazy val parsed: Array[(LocalDate, Generators.Bar)] =
    data.bars.filter(b => valid(b.symbol)).flatMap(b => parseDate(b.date).map(d => (d, b)))
  private lazy val constituents = new CsvConstituentSource(s"$dir/constituents.csv")
  private lazy val source = new FileBarSource(s"$dir/bars", "csv", Some(barSchema))

  def generate(): Unit =
    data = Generators.bars(seed, nSymbols, historyDays, 4, dir)

  def fit(): Unit = ()

  /** The dailies load the last days of the history, two at a time. */
  private val firstDaily = historyDays - 2 * math.max(dailyOps, warmDailies)
  require(firstDaily >= backfillDays, "the dailies must follow the backfill")
  private def day(i: Int): LocalDate = data.days(i)
  private def windows(n: Int): Seq[(LocalDate, LocalDate)] =
    (0 until n).map(i => (day(firstDaily + 2 * i), day(firstDaily + 2 * i + 1)))

  private def run(start: LocalDate, end: LocalDate, wh: String): Pipeline.RunReport =
    Pipeline.run(spark, constituents, source, Date.valueOf(start), Date.valueOf(end),
      s"$dir/stage", wh)

  /** Dailies only: the backfill runs the same plans over a wider window. */
  def warmup(rec: Recorder): Unit = {
    val wh = s"$dir/warehouse-warm"
    windows(warmDailies).foreach { case (s, e) => rec.op("etl")(run(s, e, wh)) }
    Main.rmrf(wh)
  }

  def round(r: Int, rec: Recorder): Unit = {
    val wh = s"$dir/warehouse-$r"
    val loads = mutable.ArrayBuffer.empty[(LocalDate, LocalDate)]
    val bulkRange = (day(0), day(backfillDays - 1))
    val nBulk = expected(bulkRange._1, bulkRange._2).size
    rec.bulk("etl", nBulk)(run(bulkRange._1, bulkRange._2, wh)).foreach { rep =>
      checkReport(rec, rep, bulkRange)
      loads += bulkRange
    }
    windows(dailyOps).foreach { w =>
      rec.op("etl")(run(w._1, w._2, wh)).foreach { rep =>
        checkReport(rec, rep, w)
        loads += w
        rec.note("op.loaded_rows", rep.loadedRows.toDouble)
        rec.note("op.warehouse_files", dataFiles(wh).toDouble)
      }
    }
    checkWarehouse(rec, wh, loads.toSeq, r)
    Main.rmrf(wh)
  }

  def counters(rec: Recorder, tracer: Tracer): Map[String, Double] = {
    val n = math.max(tracer.spanCount("op"), 1).toDouble
    Map(
      "op.sources.rows_read_per_row_loaded" ->
        tracer.recordsRead("op") / math.max(rec.noted("op.loaded_rows"), 1.0),
      "op.sinks.warehouse_files" -> rec.noted("op.warehouse_files") / n)
  }

  // --------------------------------------------------------------- checks

  /** The rows a run over [start, end] must load, computed in plain Scala
    * from the generated bars: keyed by (symbol, date), with the enriched
    * values as the warehouse holds them. */
  private def expected(start: LocalDate, end: LocalDate): Map[(String, LocalDate), Seq[Any]] = {
    val inRange = parsed.filter { case (d, _) => !d.isBefore(start) && !d.isAfter(end) }.toSeq
    inRange.groupBy(_._2.symbol).toSeq.flatMap { case (sym, rows) =>
      // the lag runs over every fetched row of the window, kept or not
      val sorted = rows.sortBy(_._1.toEpochDay)
      sorted.indices.flatMap { i =>
        val (d, b) = sorted(i)
        val prev = if (i == 0) None else num(sorted(i - 1)._2.close)
        num(b.close).map { close =>
          val (hi, lo) = (num(b.high), num(b.low))
          val range = for (h <- hi; l <- lo) yield bround(h - l, 4)
          val rangePct = fillZero(for (h <- hi; l <- lo) yield pandasDiv(h - l, l) * 100.0)
          val change = fillZero(prev.map(p => close - p))
          val pct = fillZero(prev.map(p => (pandasDiv(close, p) - 1.0) * 100.0))
          (sym, d) -> Seq[Any](num(b.open).map(bround(_, 2)), hi.map(bround(_, 2)),
            lo.map(bround(_, 2)), Some(bround(close, 2)), b.volume.toLong,
            Some(bround(change, 4)), Some(bround(pct, 4)), range, Some(bround(rangePct, 4)))
            .map {
              case Some(x: Double) => staged(x)
              case None => null
              case other => other
            }
        }
      }
    }.toMap
  }

  private def checkReport(rec: Recorder, rep: Pipeline.RunReport,
      w: (LocalDate, LocalDate)): Unit = {
    val exp = expected(w._1, w._2)
    rec.check(rep.loadedRows == exp.size && rep.nRows == exp.size,
      s"run $w loaded ${rep.loadedRows} (reported ${rep.nRows}), expected ${exp.size}")
    rec.check(rep.nSymbols == exp.keys.map(_._1).toSet.size,
      s"run $w reported ${rep.nSymbols} symbols")
    rec.check(rep.minDate == exp.keys.map(_._2).min.toString &&
      rep.maxDate == exp.keys.map(_._2).max.toString,
      s"run $w reported dates ${rep.minDate}..${rep.maxDate}")
    val staged = Option(new File(s"$dir/stage/stock_stage").listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".csv"))
    rec.check(staged.isEmpty, s"run $w left ${staged.length} staged csv files")
  }

  /** Verify aggregate and enriched values of a seeded sample of symbols
    * (every symbol with a planted row in a daily window, plus random ones). */
  private def checkWarehouse(rec: Recorder, wh: String,
      loads: Seq[(LocalDate, LocalDate)], r: Int): Unit = {
    val exp = loads.map { case (s, e) => expected(s, e) }.reduceOption(_ ++ _).getOrElse(Map.empty)
    val v = WarehouseLoad.verify(spark, wh)
    rec.check(v.getAs[Long]("total_rows") == exp.size,
      s"warehouse holds ${v.getAs[Long]("total_rows")} rows, expected ${exp.size}")
    rec.check(v.getAs[Long]("unique_symbols") == exp.keys.map(_._1).toSet.size,
      s"warehouse holds ${v.getAs[Long]("unique_symbols")} symbols")
    rec.check(v.getAs[Date]("earliest_date").toLocalDate == exp.keys.map(_._2).min &&
      v.getAs[Date]("latest_date").toLocalDate == exp.keys.map(_._2).max,
      "warehouse date range differs")
    val rnd = new scala.util.Random(seed * 31 + r)
    // every day holds one row per symbol, in file order
    val perDay = data.bars.length / data.days.size
    val planted = (firstDaily until data.days.size).flatMap { d =>
      data.bars.slice(d * perDay, (d + 1) * perDay).filter(b => valid(b.symbol) &&
        (b.date == "not-a-date" || b.open == "n/a" || b.close == "" ||
          b.close == "abc" || b.low == "0")).map(_.symbol)
    }
    val sample = (planted ++ rnd.shuffle(valid.toSeq.sorted).take(8)).toSet
    val got = spark.read.parquet(wh)
      .where(col("Symbol").isin(sample.toSeq: _*))
      .select(cols.map(col): _*).collect()
    val want = exp.filter { case ((s, _), _) => sample(s) }
    rec.check(got.length == want.size,
      s"sample of ${sample.size} symbols: ${got.length} rows, expected ${want.size}")
    got.foreach { row =>
      val key = (row.getString(1), row.getDate(0).toLocalDate)
      val actual = (2 until row.size).map(i => row.get(i))
      want.get(key) match {
        case None => rec.check(false, s"unexpected warehouse row $key")
        case Some(e) => rec.check(same(e, actual), s"row $key: got $actual, expected $e")
      }
    }
  }

  private def dataFiles(wh: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(wh))
  }
}

object StockEtlWorkload {
  private val barSchema = StructType(
    Seq("Date", "Symbol", "Open", "High", "Low", "Close", "Adj Close", "Volume")
      .map(StructField(_, StringType)))
  private val cols = Seq("Date", "Symbol", "Open", "High", "Low", "Close", "Volume",
    "Close_Change", "Close_Pct_Change", "Daily_Range", "Daily_Range_Pct")

  private def parseDate(s: String): Option[LocalDate] =
    scala.util.Try(LocalDate.parse(s)).toOption

  private def num(s: String): Option[Double] =
    if (s.isEmpty) None else scala.util.Try(s.trim.toDouble).toOption

  /** pandas float division: x/0 is ±Infinity by the sign of x, 0/0 NaN. */
  private def pandasDiv(n: Double, d: Double): Double =
    if (d == 0.0) {
      if (n.isNaN || n == 0.0) Double.NaN
      else if (n > 0) Double.PositiveInfinity else Double.NegativeInfinity
    } else n / d

  /** `fillna(0)`: missing and NaN become 0, ±Infinity is kept. */
  private def fillZero(x: Option[Double]): Double = x.filterNot(_.isNaN).getOrElse(0.0)

  /** Half-even rounding of the shortest decimal form of `x`. */
  private def bround(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  /** A double as it comes back from the `%.4f` CSV stage. */
  private def staged(x: Double): Double =
    if (x.isInfinite) x else String.format(java.util.Locale.ROOT, "%.4f", Double.box(x)).toDouble

  private def same(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall {
      case (null, null) => true
      case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
      case (x: Long, y: Long) => x == y
      case _ => false
    }
}
