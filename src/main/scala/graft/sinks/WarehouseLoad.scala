package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Warehouse ingest with the reference's COPY INTO contract (SURVEY §2.1
  * S6–S7): error-tolerant CSV decode, append-only load, consume-once
  * (`PURGE=TRUE`) staged-file deletion after a successful append, and the
  * post-load verification aggregate.
  *
  * The structured-streaming upgrade path (checkpointed
  * `Trigger.AvailableNow`, which subsumes PURGE without deleting inputs)
  * lives in [[graft.streaming.EventsStreaming]]; this sink keeps the
  * batch-exact semantics for parity.
  */
object WarehouseLoad {

  private val numericCols = Seq("Open", "High", "Low", "Close",
    "Close_Change", "Close_Pct_Change", "Daily_Range", "Daily_Range_Pct")

  /** Append the staged CSV into the warehouse parquet table, then delete
    * the consumed staged files (consume-once). Returns rows loaded.
    *
    * CRASH-EXACTLY-ONCE (COPY INTO load-history semantics, DAG:352–366):
    * each staged file lands in its OWN warehouse partition
    * (`load_file=<staged file name>`, the provenance column COPY exposes
    * as METADATA$FILENAME) via dynamic partition overwrite. Every crash
    * window then recovers by simply re-running the load:
    *  - crash DURING the append (partial task output): the re-run
    *    overwrites exactly the partitions of the still-staged files;
    *  - crash AFTER the append but BEFORE the purge: the re-run rewrites
    *    those same partitions with identical rows (the staged file is
    *    the input — deterministic), then purges;
    *  - crash mid-PURGE: already-purged files' partitions are final
    *    (nothing re-loads them — consume-once), surviving files re-run
    *    through the overwrite path.
    * Never `mode(append)`: a re-run after an append-then-crash would
    * duplicate every staged row — the r6-flagged gap. Staged file names
    * are per-run unique (the reference timestamps them, DAG:229–231;
    * Spark part files carry a job UUID), so distinct runs append
    * distinct partitions and dynamic overwrite touches nobody else's.
    *
    * The row count comes from an `Observation` attached to the SAME write
    * job — not a separate `count()` action, which would decode the whole
    * staged CSV a second time and could disagree with what was actually
    * appended if the stage changed between the two scans.
    */
  def appendAndPurge(spark: SparkSession, stagePath: String,
      warehouseDir: String): Long = {
    // a fully-consumed stage (crash after purge, or an empty re-run) has
    // nothing to load — and no csv files for the header decode to read
    if (listStagedCsvs(spark, stagePath).isEmpty) return 0L
    // A warehouse populated by the pre-r7 flat mode(append) layout would
    // end up with partition dirs BESIDE root-level part files — Spark's
    // partition discovery then rejects every read ("conflicting directory
    // structures"). Fail loud with the migration path instead of
    // corrupting readability (r7 review).
    val whPath = new org.apache.hadoop.fs.Path(warehouseDir)
    val whFs = whPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (whFs.exists(whPath) &&
      whFs.listStatus(whPath).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")))
      throw new IllegalStateException(
        s"$warehouseDir holds a legacy FLAT warehouse (root-level parquet " +
          "files); rewrite it into load_file=<name> partitions before " +
          "loading with this version (read the flat table, write it " +
          "partitioned by a synthetic load_file, swap directories)")
    val obs = org.apache.spark.sql.Observation()
    readStaged(spark, stagePath)
      .withColumn("load_file",
        regexp_extract(input_file_name(), "([^/]+)$", 1))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("load_file")
      .parquet(warehouseDir)
    val n = obs.get("n").asInstanceOf[Long]
    purge(spark, stagePath) // PURGE=TRUE (DAG:378): delete only after success
    n
  }

  /** [[appendAndPurge]] onto a [[SnapshotTable]] — the warehouse zone
    * with the reference target's implicit ACID made EXPLICIT: each staged
    * file becomes one snapshot commit keyed by its file name (COPY INTO
    * load history as a manifest idempotency key), so
    *  - a crash-window re-run re-commits nothing (the key short-circuits),
    *  - concurrent loaders serialize through the manifest claim without
    *    losing each other's commits,
    *  - the warehouse gains time travel and manifest-level CDC
    *    ([[SnapshotTable.readVersion]]/[[SnapshotTable.diff]]) for free.
    * Each file is purged right after ITS commit (per-file consume-once):
    * a crash mid-sequence leaves later files staged and earlier files
    * both committed and purged — the re-run loads exactly the remainder.
    * Returns the rows committed BY THIS CALL: a keyed no-op (crash-window
    * replay of an already-loaded file) contributes 0 — its rows were
    * counted by the run that actually loaded it, and counting its
    * manifest dir instead would over-report arbitrarily once a
    * compaction has folded the key onto a whole-table rewrite (r7
    * review).
    */
  def appendSnapshot(spark: SparkSession, stagePath: String,
      table: String): Long = {
    var total = 0L
    listStagedCsvs(spark, stagePath).sortBy(_.getName).foreach { p =>
      val before = SnapshotTable.latestVersion(spark, table)
      val c = SnapshotTable.append(readStaged(spark, p.toString), table,
        idempotencyKey = p.getName)
      if (!before.contains(c.version)) // fresh commit, not a keyed no-op
        total += spark.read.parquet(s"$table/${c.dataDir}").count()
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, false)
    }
    total
  }

  private def listStagedCsvs(spark: SparkSession,
      stagePath: String): Seq[org.apache.hadoop.fs.Path] = {
    val path = new org.apache.hadoop.fs.Path(stagePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).iterator
      .filter(_.getPath.getName.endsWith(".csv")).map(_.getPath).toSeq
  }

  /** Coercing casts applied BY NAME to whichever staged columns are
    * present — a stage written without optional columns still types
    * correctly (COPY matches columns by name, not position).
    */
  def readStaged(spark: SparkSession, stagePath: String): DataFrame = {
    val raw = graft.etl.StockEtl.readStagedCsv(spark, stagePath)
    val present = raw.columns.toSet
    val cast = numericCols.filter(present).foldLeft(raw)((df, c) =>
      df.withColumn(c, col(c).cast(DoubleType)))
    val dated = if (present("Date")) cast.withColumn("Date", to_date(col("Date"))) else cast
    if (present("Volume"))
      dated.withColumn("Volume", col("Volume").cast(DoubleType).cast(LongType))
    else dated
  }

  /** Consume-once deletion through the Hadoop FileSystem API — PURGE must
    * work identically on local FS, HDFS, and object stores; a
    * `java.io.File` walk silently no-ops on anything remote. Also how
    * [[graft.etl.Pipeline.run]] clears a stage it must not load.
    */
  private[graft] def purge(spark: SparkSession, stagePath: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(stagePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.getFileStatus(path).isDirectory)
      fs.listStatus(path).iterator
        .filter(_.getPath.getName.endsWith(".csv"))
        .foreach(st => fs.delete(st.getPath, false))
  }

  /** S7/A5: the post-load verification aggregate, as a composable frame. */
  def verifyDf(spark: SparkSession, warehouseDir: String): DataFrame =
    spark.read.parquet(warehouseDir).agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("Symbol")).as("unique_symbols"),
      min(col("Date")).as("earliest_date"),
      max(col("Date")).as("latest_date"))

  def verify(spark: SparkSession, warehouseDir: String): Row =
    verifyDf(spark, warehouseDir).head()
}
