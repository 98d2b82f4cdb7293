package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source connectors for the reference pipeline (SURVEY §2.1 S1–S3), as
  * injectable traits so tests run on fixtures and production can swap in a
  * live fetcher without touching the engine.
  */

/** S1–S2: constituent-list source. The reference scrapes the first HTML
  * table of a web page on the (single) worker; the Spark re-expression
  * keeps the fetch driver-side — it is one tiny page — and immediately
  * distributes the result as a DataFrame. Columns beyond `Symbol` are
  * carried so the projection/cleaning operators have something to discard,
  * like the real page.
  */
trait ConstituentSource {
  def fetch(spark: SparkSession): DataFrame
}

/** Parses the FIRST `<table>` of an HTML document (driver-side, no external
  * parser dependency): rows = `<tr>`, cells = `<th>`/`<td>`, first row =
  * header. Mirrors `pd.read_html(...)[0]` semantics including the
  * fail-fast on a table-less page (reference DAG:40–44).
  *
  * The table body is located with a balanced-depth scan (comments stripped
  * first), not a lazy regex — a nested `<table>` inside the first one, or a
  * commented-out table fragment, must not truncate or shift the parse.
  */
final class HtmlTableConstituentSource(html: () => String) extends ConstituentSource {

  /** Body of the first top-level `<table>`, matching its BALANCED close
    * tag (inner nested tables stay inside the returned body).
    */
  private def firstTableBody(doc: String): Option[String] = {
    val lower = doc.toLowerCase
    val openRe = "<table[\\s>]".r
    openRe.findFirstMatchIn(lower).map { first =>
      val bodyStart = lower.indexOf('>', first.start) + 1
      var depth = 1
      var pos = bodyStart
      while (depth > 0 && pos < lower.length) {
        val nextOpen = openRe.findFirstMatchIn(lower.substring(pos))
          .map(_.start + pos).getOrElse(Int.MaxValue)
        val nextClose = lower.indexOf("</table", pos)
        if (nextClose < 0) { pos = lower.length; depth = 0 } // unclosed: take rest
        else if (nextOpen < nextClose) { depth += 1; pos = nextOpen + 6 }
        else {
          depth -= 1
          pos = if (depth == 0) nextClose else nextClose + 7
        }
      }
      doc.substring(bodyStart, math.min(pos, doc.length))
    }
  }

  def fetch(spark: SparkSession): DataFrame = {
    // strip comments BEFORE locating the table: a commented-out <table>
    // must not win, and comments inside the real table must not add cells
    val doc = "(?s)<!--.*?-->".r.replaceAllIn(html(), "")
    val table = firstTableBody(doc)
      .getOrElse(throw new IllegalStateException("no <table> found in page"))
    val rows = "(?s)<tr[^>]*>(.*?)</tr>".r.findAllMatchIn(table).map { m =>
      "(?s)<t[hd][^>]*>(.*?)</t[hd]>".r.findAllMatchIn(m.group(1))
        .map(c => "<[^>]+>".r.replaceAllIn(c.group(1), "").trim)
        .toSeq
    }.toSeq
    require(rows.nonEmpty, "constituent table is empty")
    val header = rows.head
    val width = header.size
    val data = rows.tail.map(r =>
      org.apache.spark.sql.Row.fromSeq(r.padTo(width, null).take(width)))
    val schema = StructType(header.map(h => StructField(h, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toList, 1), schema)
  }
}

/** S1 live impl: fetches the constituent page over HTTP and parses its
  * first table. Reference-contract parity (DAG:31–36): explicit User-Agent
  * header, 30 s timeout, raise on non-2xx status. Driver-side by design —
  * it is one small page; the result is immediately distributed as a
  * DataFrame.
  */
final class HttpConstituentSource(url: String,
    userAgent: String = "graft-etl/1.0",
    timeoutMs: Int = 30000) extends ConstituentSource {
  def fetch(spark: SparkSession): DataFrame =
    new HtmlTableConstituentSource(() => {
      val conn = java.net.URI.create(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestProperty("User-Agent", userAgent)
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      try {
        val code = conn.getResponseCode
        // raise_for_status parity: any non-2xx aborts the task (and is
        // retried by Pipeline.retry)
        require(code >= 200 && code < 300, s"HTTP $code fetching $url")
        val src = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8")
        try src.mkString finally src.close()
      } finally conn.disconnect()
    }).fetch(spark)
}

/** Offline constituent fixture: a CSV with at least a `Symbol` column. */
final class CsvConstituentSource(path: String) extends ConstituentSource {
  def fetch(spark: SparkSession): DataFrame =
    spark.read.option("header", "true").csv(path)
}

/** S3: per-symbol daily-bar source with date-range pushdown. The engine
  * replaces the reference's per-symbol download loop with ONE distributed
  * read filtered by a broadcast semi-join on the symbol set (SURVEY §2.3) —
  * the date predicate reaches the file source as a pushed filter.
  */
trait BarSource {
  def fetch(spark: SparkSession, symbols: DataFrame,
      start: java.sql.Date, end: java.sql.Date): DataFrame
}

/** Reads raw bars from CSV files (schema-flexible: rename map and coercing
  * casts are applied downstream by StockEtl.normalize).
  */
final class CsvBarSource(path: String) extends BarSource {
  def fetch(spark: SparkSession, symbols: DataFrame,
      start: java.sql.Date, end: java.sql.Date): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE") // C4: a bad row never kills the run
      .csv(path)
    raw
      .where(to_date(col("Date")).between(lit(start), lit(end)))
      .join(broadcast(symbols.select(col("Symbol"))), Seq("Symbol"), "left_semi")
  }
}

/** Format-generic bar source: one contract over parquet / orc / json-lines
  * / csv. An EXPLICIT schema is required for the text formats — schema
  * inference is a full extra pass over the data (a non-starter at 100 TB)
  * and silently widens types; columnar formats carry their own. The date
  * predicate reaches parquet/orc as a footer-stats pushed filter; for text
  * formats it is still evaluated at the scan (no decode of non-matching
  * rows' remaining columns), just without stats skipping.
  */
final class FileBarSource(path: String, format: String,
    schema: Option[StructType] = None) extends BarSource {
  require(Set("parquet", "orc", "json", "csv").contains(format),
    s"unsupported bar format $format")
  def fetch(spark: SparkSession, symbols: DataFrame,
      start: java.sql.Date, end: java.sql.Date): DataFrame = {
    require(schema.nonEmpty || format == "parquet" || format == "orc",
      s"$format bars need an explicit schema (inference scans the data twice)")
    val base = spark.read.format(format)
      .option("mode", "PERMISSIVE") // C4: a bad row never kills the run
      .option("header", "true")     // csv only; ignored elsewhere
    val raw = schema.fold(base)(base.schema).load(path)
    raw
      .where(to_date(col("Date")).between(lit(start), lit(end)))
      .join(broadcast(symbols.select(col("Symbol"))), Seq("Symbol"), "left_semi")
  }
}

/** S3 LIVE impl — the reference's per-symbol network download loop
  * (`yf.download` per symbol with skip-on-error, reference DAG:95–207)
  * re-expressed as a DISTRIBUTED fetch: the symbol list is spread across
  * executor task slots and each task downloads its symbols' bar CSVs over
  * HTTP with the S1 connection contract (explicit User-Agent, connect +
  * read timeout, non-2xx raises). Per-symbol failures are the reference's
  * `except: continue` (DAG:202–207): the symbol is recorded in a
  * [[failedSymbols]] accumulator and skipped — one dead ticker never
  * kills the run — while the ≥1-success invariant (DAG:209, "No data
  * fetched for any symbols!") stays enforced downstream by the
  * pipeline's empty-fetch guard.
  *
  * `urlTemplate` carries `{symbol}`, `{start}`, `{end}` placeholders
  * (dates as yyyy-MM-dd) — the date range is PUSHED INTO the request the
  * way the reference passes start/end to the provider, and re-filtered
  * after parse in case the server ignores its parameters. The response
  * body is a headered CSV; rows are projected onto `columns` by HEADER
  * NAME (a missing column yields null — P15 intersection tolerance), a
  * short row pads with nulls (C4: PERMISSIVE, never a task failure), and
  * every cell stays a string for the downstream coercing normalize
  * (P8/P11), exactly like the file-based sources.
  *
  * Scale shape: one task per symbol slice, no shuffle — the output is a
  * narrow per-partition flatMap; `fetchPartitions` (default: the
  * cluster's defaultParallelism) bounds concurrent connections per host
  * to the slot count. Driver never touches a row.
  */
final class HttpBarSource(
    urlTemplate: String,
    userAgent: String = "graft-etl/1.0",
    timeoutMs: Int = 30000,
    columns: Seq[String] = Seq("Date", "Open", "High", "Low", "Close",
      "Adj Close", "Volume"),
    fetchPartitions: Int = 0) extends BarSource {

  @volatile private var acc: org.apache.spark.util.CollectionAccumulator[String] = _

  /** "SYMBOL: message" per failed symbol of the frame built by the last
    * `fetch` call, DEDUPLICATED: the accumulator fills on every action
    * over that frame (and transformation-stage accumulator updates also
    * replay under task retries/speculation), so raw entries can repeat —
    * the set of failing symbols is exact, their multiplicity is not
    * (the reference's equivalent is a log line per failure, DAG:202).
    */
  def failedSymbols: Seq[String] = {
    import scala.jdk.CollectionConverters._
    Option(acc).map(_.value.asScala.toSeq.distinct).getOrElse(Seq.empty)
  }

  def fetch(spark: SparkSession, symbols: DataFrame,
      start: java.sql.Date, end: java.sql.Date): DataFrame = {
    val failed = spark.sparkContext.collectionAccumulator[String]("http_bars_failed")
    acc = failed
    // capture plain serializable values; never the enclosing class
    val (tpl, ua, tmo, cols) = (urlTemplate, userAgent, timeoutMs, columns)
    val (s0, e0) = (start.toString, end.toString)
    val parts = if (fetchPartitions > 0) fetchPartitions
      else spark.sparkContext.defaultParallelism
    val schema = StructType(StructField("Symbol", StringType, nullable = false) +:
      cols.map(StructField(_, StringType, nullable = true)))
    import spark.implicits._
    val syms = symbols.select(col("Symbol").cast(StringType)).na.drop()
      .distinct().as[String].repartition(parts)
    val rows = syms.mapPartitions { it =>
      it.flatMap { sym =>
        try {
          val url = tpl
            .replace("{symbol}", java.net.URLEncoder.encode(sym, "UTF-8"))
            .replace("{start}", s0).replace("{end}", e0)
          val conn = java.net.URI.create(url).toURL.openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          conn.setRequestProperty("User-Agent", ua)
          conn.setConnectTimeout(tmo)
          conn.setReadTimeout(tmo)
          try {
            val code = conn.getResponseCode
            require(code >= 200 && code < 300, s"HTTP $code fetching $url")
            val src = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8")
            val lines = try src.getLines().toVector finally src.close()
            if (lines.size < 2) Vector.empty // "No data available" → skip
            else {
              val header = HttpBarSource.splitCsvLine(lines.head).map(_.trim)
              val idx = cols.map(header.indexOf(_))
              lines.drop(1).filter(_.nonEmpty).map { ln =>
                val cells = HttpBarSource.splitCsvLine(ln)
                org.apache.spark.sql.Row.fromSeq(sym +: idx.map(i =>
                  if (i >= 0 && i < cells.length && cells(i).trim.nonEmpty)
                    cells(i).trim else null))
              }
            }
          } finally conn.disconnect()
        } catch {
          case scala.util.control.NonFatal(e) =>
            failed.add(s"$sym: ${e.getMessage}") // DAG:202–207 skip-on-error
            Vector.empty
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    rows.toDF()
      .where(to_date(col("Date")).between(lit(start), lit(end)))
  }
}

object HttpBarSource {

  /** Minimal RFC-4180 field split: quoted fields may carry commas and
    * doubled quotes — a provider quoting `"1,234,567"` volumes must not
    * shift every later column (r7 review; naive split misaligned
    * silently). Unterminated quotes fall back to taking the rest as one
    * field — C4: malformed rows degrade, never throw. */
  private[sources] def splitCsvLine(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    var i = 0
    var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') {
          cur.append('"'); i += 1
        } else if (c == '"') inQ = false
        else cur.append(c)
      } else c match {
        case '"' => inQ = true
        case ',' => out += cur.toString; cur.setLength(0)
        case _   => cur.append(c)
      }
      i += 1
    }
    out += cur.toString
    out.toArray
  }
}
