package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The program modules jobs are charged to, per phase: those that start
  * jobs on some workload. `ops.TextAnalysis` and `ops.Sampling` build
  * expressions that run inside `ops.Curate` jobs and `functions` kernels run
  * inside `ops.Similarity` and `ops.Dedup` tasks, so none of them starts a
  * job; `streaming` runs in no workload. */
object Layers {
  val modules: Map[String, Seq[String]] = Map(
    "bulk" -> Seq("sources", "etl", "sinks", "ops.Dedup", "ops.Curate", "ops.Bpe",
      "ops.Similarity", "ops.Checkpoints"),
    "op" -> Seq("sources", "etl", "sinks", "ops.Dedup", "ops.Curate", "ops.Checkpoints"))
  val phases: Seq[String] = Seq("bulk", "op")
  private val moduleStats = Seq("jobs", "job_s", "task_s", "shuffle_mb", "spill_mb")
  private val phaseStats = Seq("wall_s", "driver_s", "jobs", "busy_slots",
    "gc_s", "shuffle_mb", "spill_mb")

  /** Workload counters, each read where the work happens. */
  val counters: Seq[String] = Seq("op.sources.rows_read_per_row_loaded",
    "op.sinks.warehouse_files", "op.ops.index_rows")
  val afterAndSetup: Seq[String] = Seq("after.persisted_rdds", "after.cached_mb",
    "setup.session_s", "setup.generate_s", "setup.fit_s", "setup.warmup_s")

  /** Every per-layer metric, in the order a traced run prints them. */
  val names: Seq[String] =
    phases.flatMap(p => modules(p).flatMap(m => moduleStats.map(s => s"$p.$m.$s"))) ++
      phases.flatMap(p => phaseStats.map(s => s"$p.$s")) ++ counters ++ afterAndSetup

  def unit(name: String): String = name.split('.').last match {
    case "jobs" | "persisted_rdds" => "count"
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("_mb") => "MB"
    case "busy_slots" => "slots"
    case "rows_read_per_row_loaded" => "ratio"
    case "warehouse_files" => "files"
    case _ => "rows"
  }

  /** Module of a `graft.*` class name, e.g. `graft.ops.Dedup$` → `ops.Dedup`. */
  def moduleOf(cls: String): String = cls.stripPrefix("graft.").split('.').toList match {
    case "ops" :: obj :: _ => "ops." + obj.takeWhile(_ != '$')
    case pkg :: _ :: _ => pkg
    case _ => "graft"
  }
}

/** Tracing for the `--trace 1` run: a span around every public call the
  * benchmark makes, and a listener that charges each Spark job to the
  * program file and module that started it.
  *
  * Attribution: the innermost `graft.*` frame of the job's recorded call
  * site; failing that (a broadcast or AQE job submitted from a pool thread),
  * the call site of the SQL execution the job belongs to; failing that, or
  * when the benchmark itself runs the action on a frame the call returned,
  * the module the benchmark names for the span or a part of it. */
final class Tracer extends SparkListener {
  import Tracer._

  private final case class Span(phase: String, startMs: Long, endMs: Long, gcMs: Long)
  private final class Job(val span: Int, val module: String, val site: String,
      val startMs: Long) {
    @volatile var endMs: Long = -1L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var recordsRead = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: Option[(String, Long, Long)] = None
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val byJobId = mutable.Map.empty[Int, Job]
  private val byStage = mutable.Map.empty[Int, Job]
  private val sqlSites = mutable.Map.empty[Long, String]

  def begin(sc: SparkContext, phase: String, module: String): Unit = {
    open = Some((phase, System.currentTimeMillis(), gcMillis()))
    sc.setLocalProperty(SpanKey, spans.size.toString)
    sc.setLocalProperty(ModuleKey, module)
  }

  def end(sc: SparkContext): Unit = {
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(ModuleKey, null)
    open.foreach { case (phase, start, gc0) =>
      spans += Span(phase, start, System.currentTimeMillis(), gcMillis() - gc0)
    }
    open = None
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      sqlSites(e.executionId) = e.details
    }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).foreach { span =>
      val own = props.flatMap(p => Option(p.getProperty("callSite.long")))
        .flatMap(attribute)
      val viaSql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlSites.get(id.toLong)).flatMap(attribute)
      val spanMod = props.flatMap(p => Option(p.getProperty(ModuleKey))).getOrElse("graft")
      val short = props.flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
      val (module, site) = own.orElse(viaSql) match {
        case Some((m, s)) if m != Consumer => (m, s)
        case Some((_, s)) => (spanMod, s)
        case None => (spanMod, s"($short)")
      }
      val job = new Job(span, module, site, js.time)
      jobs += job
      byJobId(js.jobId) = job
      js.stageInfos.foreach(si => byStage(si.stageId) = job)
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    byJobId.remove(je.jobId).foreach(_.endMs = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- byStage.get(te.stageId); m <- Option(te.taskMetrics)) {
      job.taskMs += m.executorRunTime
      job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      job.spillBytes += m.diskBytesSpilled
      job.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Rows read by the scans of every job of a phase, summed. */
  def recordsRead(phase: String): Long = synchronized {
    jobs.filter(j => spans(j.span).phase == phase).map(_.recordsRead).sum
  }

  def spanCount(phase: String): Int = spans.count(_.phase == phase)

  /** Per-operation module and phase metrics for each measured phase. */
  def metrics(): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (phase <- Layers.phases) {
      val ids = spans.indices.filter(spans(_).phase == phase).toSet
      val n = math.max(ids.size, 1).toDouble
      val js = jobs.filter(j => ids(j.span))
      val wallMs = ids.toSeq.map(i => spans(i).endMs - spans(i).startMs).sum.toDouble
      val jobMs = ids.toSeq.map { i =>
        val s = spans(i)
        unionMs(js.filter(_.span == i).toSeq.map(j =>
          (math.max(j.startMs, s.startMs), math.min(endOf(j, s), s.endMs))))
      }.sum.toDouble
      for (m <- Layers.modules(phase)) {
        val mj = js.filter(_.module == m)
        out(s"$phase.$m.jobs") = mj.size / n
        out(s"$phase.$m.job_s") = mj.map(j => endOf(j, spans(j.span)) - j.startMs).sum / n / 1e3
        out(s"$phase.$m.task_s") = mj.map(_.taskMs).sum / n / 1e3
        out(s"$phase.$m.shuffle_mb") = mj.map(_.shuffleBytes).sum / n / MB
        out(s"$phase.$m.spill_mb") = mj.map(_.spillBytes).sum / n / MB
      }
      out(s"$phase.wall_s") = wallMs / n / 1e3
      out(s"$phase.driver_s") = (wallMs - jobMs) / n / 1e3
      out(s"$phase.jobs") = js.size / n
      out(s"$phase.busy_slots") = if (wallMs > 0) js.map(_.taskMs).sum / wallMs else 0.0
      out(s"$phase.gc_s") = ids.toSeq.map(spans(_).gcMs).sum / n / 1e3
      out(s"$phase.shuffle_mb") = js.map(_.shuffleBytes).sum / n / MB
      out(s"$phase.spill_mb") = js.map(_.spillBytes).sum / n / MB
    }
    out.toMap
  }

  /** Per call site detail: one row per (phase, module, site), per operation. */
  def sites(): Seq[Map[String, Any]] = synchronized {
    val measured = jobs.filter(j => Layers.phases.contains(spans(j.span).phase))
    measured.groupBy(j => (spans(j.span).phase, j.module, j.site)).toSeq
      .sortBy { case ((p, m, s), _) => (p, m, s) }
      .map { case ((phase, module, site), js) =>
        val n = math.max(spanCount(phase), 1).toDouble
        Map[String, Any]("phase" -> phase, "module" -> module, "site" -> site,
          "jobs" -> js.size / n,
          "job_s" -> js.map(j => endOf(j, spans(j.span)) - j.startMs).sum / n / 1e3,
          "task_s" -> js.map(_.taskMs).sum / n / 1e3,
          "shuffle_mb" -> js.map(_.shuffleBytes).sum / n / MB,
          "rows_read" -> js.map(_.recordsRead).sum / n)
      }
  }

  private def endOf(j: Job, s: Span): Long = if (j.endMs < 0) s.endMs else j.endMs
}

object Tracer {
  val SpanKey = "perfbench.span"
  val ModuleKey = "perfbench.module"
  private val Consumer = "(benchmark)"
  private val MB = 1024.0 * 1024.0
  private val Frame = """([\w$.]+)\.[\w$<>]+\(([^)]*)\)""".r

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (module, "File.scala:line") of the innermost program or benchmark
    * frame of a long-form call site. */
  def attribute(callSite: String): Option[(String, String)] =
    callSite.split('\n').iterator.flatMap(line => Frame.findFirstMatchIn(line)).collectFirst {
      case m if m.group(1).startsWith("graft.") => (Layers.moduleOf(m.group(1)), m.group(2))
      case m if m.group(1).startsWith("perfbench.") => (Consumer, m.group(2))
    }

  /** Length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
