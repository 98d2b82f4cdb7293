package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-layout").toFile.getAbsolutePath

  test("mortonZ: known interleavings, SQL-twin parity, never negative") {
    val cases = Seq(
      (0L, 0L), (1L, 0L), (0L, 1L), (3L, 1L),
      (0x7FFFFFFFL, 0L), (0L, 0x7FFFFFFFL),
      (0x7FFFFFFFL, 0x7FFFFFFFL), // max keys: top Z-value, still positive
      (123456789L, 987654321L))
    val df = cases.toDF("a", "b")
    val got = df.select(Layout.mortonZ(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    // reference: bit-by-bit interleave of the low 31 bits in plain Scala
    def ref(a: Long, b: Long): Long =
      (0 until 31).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      }
    val exp = cases.map { case (a, b) => ref(a, b) }
    assert(got == exp)
    assert(exp(1) == 1L && exp(2) == 2L && exp(3) == 7L)
    assert(exp(4) == 0x1555555555555555L)
    // sign-bit guard: sorting by zval must never put large keys FIRST —
    // every value is non-negative (bit 31 of b would land on the sign bit
    // under a 32-bit interleave)
    assert(got.forall(_ >= 0L), s"negative Z-value in $got")
    // the SQL twin evaluates to the same values (parsed by Spark here;
    // the oracle gate re-runs it in DuckDB)
    val sqlGot = df.selectExpr(Layout.mortonZSql("a", "b") + " AS z")
      .as[Long].collect().toSeq
    assert(sqlGot == exp)
  }

  test("SQL registration: morton_z matches the Column API") {
    graft.GraftExtensions.register(spark)
    val df = Seq((3L, 1L), (123L, 456L)).toDF("a", "b")
    df.createOrReplaceTempView("mz_v")
    val viaSql = spark.sql("SELECT morton_z(a, b) AS z FROM mz_v")
      .as[Long].collect().toSeq
    val viaApi = df.select(Layout.mortonZ(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(viaSql == viaApi)
  }

  test("writeSorted: non-overlapping per-file ranges for min/max pruning") {
    val dir = tmpDir() + "/sorted"
    val df = (0 until 1000).map(i => (i * 7919 % 1000, s"row$i"))
      .toDF("k", "v")
    Layout.writeSorted(df, dir, Seq("k"), numFiles = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(files.size == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("k"), max("k")).head()
      (r.getInt(0), r.getInt(1))
    }.sortBy(_._1)
    // ranges must be pairwise disjoint: each file's min exceeds the
    // previous file's max — that is what makes footer min/max prune
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(lo > hi, s"overlap: $ranges")
      case _ =>
    }
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("writeHivePartitioned: dynamic overwrite replaces only touched partitions") {
    val dir = tmpDir() + "/hive"
    val day1 = Seq(("2024-01-01", 1, "a"), ("2024-01-02", 2, "b"))
      .toDF("day", "id", "v")
    Layout.writeHivePartitioned(day1, dir, Seq("day"))
    assert(new java.io.File(dir, "day=2024-01-01").exists())
    assert(new java.io.File(dir, "day=2024-01-02").exists())
    // backfill day 2 only — day 1 must survive
    val day2 = Seq(("2024-01-02", 99, "B!")).toDF("day", "id", "v")
    Layout.writeHivePartitioned(day2, dir, Seq("day"))
    val out = spark.read.parquet(dir)
      .select("day", "id").as[(String, Int)].collect().toSet
    assert(out == Set(("2024-01-01", 1), ("2024-01-02", 99)))
  }

  test("compact: many small files rewritten to few, content preserved") {
    val dir = tmpDir() + "/frag"
    val df = (0 until 2000).map(i => (i, s"value$i")).toDF("id", "v")
    df.repartition(32).write.parquet(dir)
    val before = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before == 32)
    // crash residue from a hypothetical earlier run: the rename-aside swap
    // must clear a stale backup, never trip over it
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir + "_compacting_old", "junk"))
    val after = Layout.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(after == 1, s"expected 1 compacted file, got $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == 2000)
    assert(back.agg(sum("id")).head().getLong(0) == 1999L * 2000 / 2)
    // no backup left behind on success
    assert(!new java.io.File(dir + "_compacting_old").exists())
  }
}
