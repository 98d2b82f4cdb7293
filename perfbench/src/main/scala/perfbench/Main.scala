package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: String, outDir: String, launchMs: Long)

/** One workload: seeded inputs, fixed fits, and a round of operations that
  * every run repeats whole. */
trait Workload {
  /** A round's wall time on a 4-core machine; a run measures
    * `--seconds / roundSeconds` whole rounds (at least one), so every run of
    * a workload times the same operations however fast the machine is. */
  def roundSeconds: Double
  /** Writes the seeded inputs the program reads. */
  def generate(): Unit
  /** Fixed model fits the timed operations rely on. */
  def fit(): Unit
  /** The same operations as a round, untimed, until the JIT has settled. */
  def warmup(rec: Recorder): Unit
  /** One whole round: the bulk operation, then the small operations. */
  def round(r: Int, rec: Recorder): Unit
  /** Workload counters for the traced run (see [[Layers.counters]]). */
  def counters(rec: Recorder, tracer: Tracer): Map[String, Double]
}

/** Times the public calls of a run, records their spans when tracing, and
  * collects check failures. Nothing is recorded while warming up. */
final class Recorder(val spark: SparkSession, val tracer: Option[Tracer]) {
  var measuring = false
  val bulkRates = mutable.ArrayBuffer.empty[Double]
  val opWalls = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  var firstTimedMs = -1L
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** The bulk operation over `items` items; `None` if it threw. */
  def bulk[T](module: String, items: Long)(f: => T): Option[T] =
    timed("bulk", module)(f).map { case (v, s) =>
      if (measuring) bulkRates += items / s
      v
    }

  /** One small operation; `None` if it threw. */
  def op[T](module: String)(f: => T): Option[T] =
    timed("op", module)(f).map { case (v, s) =>
      if (measuring) opWalls += s
      v
    }

  private def timed[T](phase: String, module: String)(f: => T): Option[(T, Double)] = {
    val sc = spark.sparkContext
    if (measuring && firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()
    if (measuring) attempted += 1
    tracer.foreach(_.begin(sc, if (measuring) phase else "warm", module))
    val t0 = System.nanoTime()
    try {
      val v = f
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] ${if (measuring) phase else "warm " + phase} $module $s%.3f s")
      Some((v, s))
    } catch {
      case NonFatal(e) =>
        if (measuring) failed += 1
        System.err.println(s"[perfbench] $phase $module failed: $e")
        None
    } finally tracer.foreach(_.end(sc))
  }

  /** Charges the jobs `f` starts on frames of the benchmark (an action on a
    * frame a call returned) to `module` instead of the span's module. */
  def charge[T](module: String)(f: => T): T = tracer match {
    case None => f
    case Some(_) =>
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(Tracer.ModuleKey)
      sc.setLocalProperty(Tracer.ModuleKey, module)
      try f finally sc.setLocalProperty(Tracer.ModuleKey, outer)
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok && problems.size < 50) {
      problems += what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }

  /** Adds to a workload counter (measured rounds only). */
  def note(key: String, v: Double): Unit = if (measuring) sums(key) += v
  def noted(key: String): Double = sums(key)
}

object Main {

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("workdir"), need("outdir"),
      kv.get("launch-ms").map(_.toLong)
        .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime))
  }

  /** Two task slots leave the driver thread and the JIT compiler threads a
    * core of their own on a 4-core machine; with all four taken, op times
    * kept drifting through the run and between runs. */
  def session(workDir: String): SparkSession = {
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(name: String, spark: SparkSession, seed: Long, dir: String): Workload =
    name match {
      case "stock_etl" => new StockEtlWorkload(spark, seed, dir)
      case "llm_curate" => new CurateWorkload(spark, seed, dir)
      case other => sys.error(s"unknown workload $other")
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Driver heap in use once the listener bus has caught up and the heap
    * has settled: full GCs until two readings agree within 1 MB (at most
    * 10), the lower of the last two. */
  private def heapUsedMb(spark: SparkSession): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var prev = used()
    var cur = used()
    var n = 2
    while (math.abs(cur - prev) >= 1.0 && n < 10) {
      prev = cur
      cur = used()
      n += 1
    }
    math.min(prev, cur)
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }
      .mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }

  private def metric(value: Double, unit: String): Map[String, Any] =
    Map("value" -> value, "unit" -> unit)

  /** Sets up every workload once (inputs, fits, warm-up) in one JVM, so
    * the classes a run loads can be archived at build time; checks are
    * not run and nothing is printed. */
  private def train(a: Args): Unit = {
    val spark = session(a.workDir)
    val rec = new Recorder(spark, None)
    for (name <- Workloads) {
      val w = workload(name, spark, a.seed, s"${a.workDir}/$name")
      w.generate()
      w.fit()
      w.warmup(rec)
    }
    spark.stop()
  }

  val Workloads: Seq[String] = Seq("stock_etl", "llm_curate")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.workDir))
    Files.createDirectories(Paths.get(a.outDir))
    if (a.workload == "train") return train(a)
    val t0 = System.currentTimeMillis()
    val spark = session(a.workDir)
    val tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val rec = new Recorder(spark, tracer)
    var w = workload(a.workload, spark, a.seed, a.workDir)
    val tSession = System.currentTimeMillis()
    w.generate()
    val tGen = System.currentTimeMillis()
    w.fit()
    val tFit = System.currentTimeMillis()
    w.warmup(rec)
    val tWarm = System.currentTimeMillis()
    System.err.println(s"[perfbench] set-up: session ${tSession - t0} ms, generate " +
      s"${tGen - tSession} ms, fit ${tFit - tGen} ms, warm-up ${tWarm - tFit} ms")

    rec.measuring = true
    val rounds = math.max(1, math.round(a.seconds / w.roundSeconds).toInt)
    (0 until rounds).foreach(w.round(_, rec))
    rec.measuring = false

    val layer = tracer.map { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      t.metrics() ++ w.counters(rec, t)
    }
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.size.toDouble
    val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    val sites = tracer.map(_.sites()).getOrElse(Nil)
    w = null // the generator's copies of the inputs are not the program's heap
    val heapMb = heapUsedMb(spark)

    val e2e = Map(
      "setup_s" -> metric((rec.firstTimedMs - a.launchMs) / 1e3, "s"),
      "bulk_items_per_s" -> metric(median(rec.bulkRates.toSeq), "items/s"),
      "op_p50_s" -> metric(median(rec.opWalls.toSeq), "s"),
      "heap_retained_mb" -> metric(heapMb, "MB"))
    val metrics = layer match {
      case None => e2e
      case Some(l) =>
        val all = l ++ Map(
          "after.persisted_rdds" -> persisted, "after.cached_mb" -> cachedMb,
          "setup.session_s" -> (tSession - t0) / 1e3,
          "setup.generate_s" -> (tGen - tSession) / 1e3,
          "setup.fit_s" -> (tFit - tGen) / 1e3,
          "setup.warmup_s" -> (tWarm - tFit) / 1e3)
        val perLayer = Layers.names.map(n =>
          n -> metric(all.getOrElse(n, 0.0), Layers.unit(n))).toMap
        val detail = Map(
          "workload" -> a.workload, "seed" -> a.seed, "rounds" -> rounds,
          "bulk_ops" -> rec.bulkRates.size, "small_ops" -> rec.opWalls.size,
          "end_to_end_traced" -> e2e, "per_layer" -> perLayer, "sites" -> sites)
        Files.write(Paths.get(a.outDir, s"trace-${a.workload}-seed${a.seed}.json"),
          (json(detail) + "\n").getBytes("UTF-8"))
        perLayer
    }
    System.err.println(s"[perfbench] ${a.workload}: $rounds rounds, " +
      s"${rec.bulkRates.size} bulk + ${rec.opWalls.size} small ops, " +
      s"bulk items/s ${rec.bulkRates.map(x => f"$x%.1f").mkString(" ")}, " +
      s"op s ${rec.opWalls.map(x => f"$x%.3f").mkString(" ")}")
    spark.stop()
    val correct = rec.problems.isEmpty && rec.bulkRates.nonEmpty && rec.opWalls.nonEmpty
    println(json(Map("correct" -> correct, "attempted" -> rec.attempted,
      "failed" -> rec.failed, "metrics" -> metrics)))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  /** Recursively deletes a local directory (outside any timer). */
  def rmrf(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(del))
      f.delete()
    }
    del(new File(path))
  }
}
