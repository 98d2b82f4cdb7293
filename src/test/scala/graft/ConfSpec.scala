package graft

import org.scalatest.funsuite.AnyFunSuite

/** The partition-sizing rule (graft.Conf) — the SCALING.md local-cluster
  * finding encoded as arithmetic. Each case replays a measured
  * configuration from the study so the constants stay anchored to
  * evidence, not vibes.
  */
class ConfSpec extends AnyFunSuite {

  test("Sessions.build carries the shared conf every spec relies on") {
    // TestSpark.spark is the suites' Sessions.build session
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.ansi.enabled") === "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    // the caller's master and partitions, whatever SPARK_GRAFT_CPUS says
    assert(TestSpark.spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("memory strings parse with Spark memory-conf semantics") {
    assert(Conf.memoryStringBytes("7g") === 7L << 30)
    assert(Conf.memoryStringBytes("16gb") === 16L << 30)
    assert(Conf.memoryStringBytes("512m") === 512L << 20)
    assert(Conf.memoryStringBytes("1024k") === 1024L << 10)
    assert(Conf.memoryStringBytes("2t") === 2L << 40)
    assert(Conf.memoryStringBytes("8192") === 8192L << 20) // unitless = MiB
    assert(Conf.memoryStringBytes("123b") === 123L)
    intercept[IllegalArgumentException](Conf.memoryStringBytes("g"))
    intercept[IllegalArgumentException](Conf.memoryStringBytes("1.5g"))
  }

  test("executor resources: local-cluster master string, conf override wins") {
    // the study's layout: local-cluster[4,8,8192] launched with
    // spark.executor.memory=7g — heap is the conf, slots the master string
    assert(Conf.executorResources("local-cluster[4,8,8192]", Some("7g"),
      None, 999L, 32) === (7L << 30, 8))
    // no conf → the master string's MiB
    assert(Conf.executorResources("local-cluster[2,16,16384]", None,
      None, 999L, 32) === (16384L << 20, 16))
  }

  test("executor resources: local master uses this JVM's heap and slots") {
    assert(Conf.executorResources("local[32]", Some("7g"), None,
      128L << 30, 32) === (128L << 30, 32))
    assert(Conf.executorResources("local[*]", None, None, 8L << 30, 16)
      === (8L << 30, 16))
    assert(Conf.executorResources("local", None, None, 4L << 30, 1)
      === (4L << 30, 1))
  }

  test("executor resources: real cluster reads confs, safe defaults") {
    assert(Conf.executorResources("spark://host:7077", Some("32g"), Some(8),
      999L, 400) === (32L << 30, 8))
    // defaults: 1g / 4 slots — over-estimating slots errs toward MORE
    // partitions (the safe direction)
    assert(Conf.executorResources("k8s://https://host", None, None,
      999L, 400) === (1L << 30, 4))
  }

  test("partitionsFor floors at defaultParallelism and rounds to waves") {
    val budget = 112L << 20 // the study's 7g/8-slot budget
    // tiny input → floor
    assert(Conf.partitionsFor(BigInt(1L << 20), budget, 32) === 32)
    // unknown/absent stats → floor (the raw-stats sentinel lives in
    // sizedShufflePartitions, which passes -1 down for unknowns)
    assert(Conf.partitionsFor(BigInt(-1), budget, 32) === 32)
    // a huge EFFECTIVE estimate is capped (widen, never silently narrow)
    assert(Conf.partitionsFor(BigInt(1L) << 60, budget, 32)
      === Conf.MaxPartitions.toInt)
    // 10 GiB effective / 112 MiB → 92 tasks → 3 waves of 32 = 96
    assert(Conf.partitionsFor(BigInt(10L) << 30, budget, 32) === 96)
    // exactly one budget → still one full wave
    assert(Conf.partitionsFor(BigInt(budget), budget, 32) === 32)
    // join-product stats artifact (~1e14 "bytes" from two ~10 MB inputs)
    // must NOT request a repartition AQE cannot coalesce: hard ceiling
    assert(Conf.partitionsFor(BigInt(10L).pow(14) * 32 * 50, budget, 32)
      === Conf.MaxPartitions.toInt)
  }

  test("SCALING_LC artifact tripwire: sized x10 cells within 2x of local[32]") {
    // The committed local-cluster artifact IS the multi-executor evidence
    // for the sizing rule (SCALING.md §r6). If a future regeneration ships
    // a regressed cell — the pre-rule state was 6.6x/3.3x OVER this bound —
    // this test fails before the artifact quietly replaces the good one.
    def x10(path: String): Map[String, Double] = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val dirIdx = txt.indexOf("x10")
      assert(dirIdx >= 0, s"$path has no x10 dir")
      val tail = txt.substring(dirIdx)
      """"(q_[a-z0-9_]+)":\{"sec":([0-9.]+)""".r.findAllMatchIn(tail)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val lc = x10("SCALING_LC.json")
    val base = x10("SCALING_LC_BASELINE.json")
    for (q <- Seq("q_dedup_spans", "q_text_ngram_repetition")) {
      val (l, b) = (lc(q), base(q))
      assert(l <= 2.0 * b,
        s"$q local-cluster x10 ${l}s exceeds 2x its local[32] ${b}s — " +
          "the partition-sizing rule regressed (graft.Conf scaladoc)")
    }
  }

  test("the study's regressed cells land in the measured-good neighborhood") {
    // x10 fixture: ~6 MiB on-disk documents; budget 7g/(8×8) = 112 MiB.
    // q_dedup_spans (k=50): 6 MiB × 32 × 50 ≈ 9.4 GiB → 86 tasks → 96
    // partitions; the hand-set fix that restored parity was 128, and 32
    // was the spill. The rule must land well above 32, near 128.
    val budget = Conf.memoryStringBytes("7g") / (8L * 8)
    val spans = Conf.partitionsFor(
      BigInt(6L << 20) * Conf.TextInflation * 50, budget, 32)
    assert(spans >= 64 && spans <= 256, s"spans width $spans")
    // q_text_ngram_repetition (Σn = 54): similar mass, same neighborhood
    val ngram = Conf.partitionsFor(
      BigInt(6L << 20) * Conf.TextInflation * 54, budget, 32)
    assert(ngram >= 64 && ngram <= 256, s"ngram width $ngram")
    // and the x1 cell stays AT the floor (no plan churn at small SF)
    val x1 = Conf.partitionsFor(
      BigInt(600L << 10) * Conf.TextInflation * 50, budget * 8, 32)
    assert(x1 === 32)
  }
}
