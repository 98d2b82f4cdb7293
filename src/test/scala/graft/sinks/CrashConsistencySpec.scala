package graft.sinks

import graft.SparkSpec

/** Crash-consistency torture tests (r6 verdict item 3): each sink's
  * exactly-once claim is proven by KILLING the job inside its commit
  * window — the [[MockStoreFileSystem]] crash trap throws on the exact
  * rename/delete under test — and then re-running the operation. Done
  * means the recovered state is identical to an uninterrupted run: same
  * rows, no duplicates, no losses, no torn swap.
  */
class CrashConsistencySpec extends SparkSpec {

  private def useMockstore(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockstore.impl", classOf[MockStoreFileSystem].getName)

  private def writeStagedCsv(dir: String, name: String,
      rows: Seq[String]): Unit = {
    new java.io.File(dir).mkdirs()
    val f = new java.io.PrintWriter(s"$dir/$name")
    f.println("Date,Symbol,Close,Volume")
    rows.foreach(f.println)
    f.close()
  }

  private val stagedRows = Seq(
    "2024-01-02,AAA,10.0,100",
    "2024-01-03,AAA,11.0,110",
    "2024-01-02,BBB,5.0,50")

  private def warehouseRows(dir: String): Seq[String] =
    spark.read.parquet(dir).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("warehouse: crash between append and purge — re-run lands the identical table, then purges") {
    useMockstore()
    val tmp = java.nio.file.Files.createTempDirectory("wh_torture1").toString
    writeStagedCsv(s"$tmp/stage", "sp500_data_20240102.csv", stagedRows)
    val wh = s"mockstore://$tmp/warehouse"
    // die on the consume-once delete of the staged file itself — the
    // append has fully committed (the commit's own deletes touch staging
    // paths, not the stage directory)
    MockStoreFileSystem.armCrash("delete", "stage/sp500_data_20240102.csv$")
    try {
      val e = intercept[Exception] {
        WarehouseLoad.appendAndPurge(spark, s"mockstore://$tmp/stage", wh)
      }
      assert(e.getMessage.contains("injected crash"), e.getMessage)
    } finally MockStoreFileSystem.disarm()
    val afterCrash = warehouseRows(wh)
    assert(afterCrash.size == 3, s"append did not land before the crash: $afterCrash")
    assert(new java.io.File(s"$tmp/stage").listFiles().exists(_.getName.endsWith(".csv")),
      "stage purged despite the crash-before-delete")
    // recovery = just run the load again
    val n = WarehouseLoad.appendAndPurge(spark, s"mockstore://$tmp/stage", wh)
    assert(n == 3L)
    assert(warehouseRows(wh) == afterCrash,
      "re-run changed the table (duplicate append or loss)")
    assert(!new java.io.File(s"$tmp/stage").listFiles().exists(_.getName.endsWith(".csv")),
      "stage not purged by the recovery run")
  }

  test("warehouse: crash during the append commit — re-run lands exactly-once, never duplicates") {
    useMockstore()
    val tmp = java.nio.file.Files.createTempDirectory("wh_torture2").toString
    writeStagedCsv(s"$tmp/stage", "sp500_data_20240103.csv", stagedRows)
    val wh = s"mockstore://$tmp/warehouse"
    // die on the partition-directory swap of the dynamic-overwrite commit
    // (destination dir is load_file=<staged name>, so it ends ".csv")
    MockStoreFileSystem.armCrash("rename", ".csv$")
    try {
      intercept[Exception] {
        WarehouseLoad.appendAndPurge(spark, s"mockstore://$tmp/stage", wh)
      }
    } finally MockStoreFileSystem.disarm()
    // stage must have survived (purge never ran)
    assert(new java.io.File(s"$tmp/stage").listFiles().exists(_.getName.endsWith(".csv")))
    val n = WarehouseLoad.appendAndPurge(spark, s"mockstore://$tmp/stage", wh)
    assert(n == 3L)
    val rows = warehouseRows(wh)
    assert(rows.size == 3, s"recovery run duplicated or lost rows: $rows")
  }

  test("snapshot warehouse: crash between commit and purge — re-run is a keyed no-op") {
    useMockstore()
    val tmp = java.nio.file.Files.createTempDirectory("wh_snap_torture").toString
    writeStagedCsv(s"$tmp/stage", "sp500_data_a.csv", stagedRows.take(2))
    writeStagedCsv(s"$tmp/stage", "sp500_data_b.csv", stagedRows.drop(2))
    val tbl = s"mockstore://$tmp/snap_wh"
    // die on the purge of the FIRST staged file — its commit is complete,
    // the second file untouched
    MockStoreFileSystem.armCrash("delete", "stage/sp500_data_a.csv$")
    try {
      val e = intercept[Exception] {
        WarehouseLoad.appendSnapshot(spark, s"mockstore://$tmp/stage", tbl)
      }
      assert(e.getMessage.contains("injected crash"), e.getMessage)
    } finally MockStoreFileSystem.disarm()
    assert(SnapshotTable.latestVersion(spark, tbl).contains(1L))
    // recovery: file A's key short-circuits (no duplicate commit, its 2
    // rows were counted by the crashed run), file B's 1 row loads fresh,
    // both purge
    val n = WarehouseLoad.appendSnapshot(spark, s"mockstore://$tmp/stage", tbl)
    assert(n == 1L, s"recovery should commit only file B's 1 row, got $n")
    assert(SnapshotTable.latestVersion(spark, tbl).contains(2L),
      "re-run duplicated file A's commit")
    assert(SnapshotTable.read(spark, tbl).count() == 3L)
    assert(!new java.io.File(s"$tmp/stage").listFiles().exists(_.getName.endsWith(".csv")))
  }

  test("compact: crash between the swap renames — re-run restores the backup and completes") {
    useMockstore()
    val tmp = java.nio.file.Files.createTempDirectory("compact_torture").toString
    import spark.implicits._
    val tbl = s"mockstore://$tmp/tbl"
    (1L to 1000L).toDF("id").repartition(8).write.parquet(tbl)
    val before = warehouseRows(tbl)
    // die exactly between rename(tbl → backup) and rename(tmp → tbl): the
    // only rename whose destination is the bare table path is the second
    MockStoreFileSystem.armCrash("rename", "/tbl$")
    try {
      intercept[Exception] { graft.ops.Layout.compact(spark, tbl, 1L << 20) }
    } finally MockStoreFileSystem.disarm()
    // the torn state: table gone, backup holds the only copy
    assert(!new java.io.File(s"$tmp/tbl").exists(), "crash window not hit")
    assert(new java.io.File(s"$tmp/tbl_compacting_old").exists())
    // recovery = just run compact again
    val nFiles = graft.ops.Layout.compact(spark, tbl, 1L << 20)
    assert(nFiles == 1)
    assert(warehouseRows(tbl) == before, "compact recovery lost or changed rows")
    assert(!new java.io.File(s"$tmp/tbl_compacting_old").exists(),
      "backup not cleaned after successful recovery")
  }
}
