package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Spark listener that keeps jobs, stages and task metrics in memory.
  * Events arrive on the listener bus thread; readers drain the bus first
  * and then read under the same monitor. */
final class Recorder extends SparkListener {
  final class JobRec(val id: Int, val tag: String, val startMs: Long,
      val stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }
  final class StageRec(val id: Int) {
    var name = ""
    var submitMs = -1L
    var completeMs = -1L
    var tasks = 0
    var failures = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(Harness.QueryTag)).orNull
    jobs(e.jobId) = new JobRec(e.jobId, tag, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.name = e.stageInfo.name
    s.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(s.submitMs)
    s.completeMs = e.stageInfo.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.taskInfo.failed || e.reason != Success) s.failures += 1
    s.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** Jobs a query submitted: those carrying its tag, plus untagged jobs
    * that started inside its window. */
  def jobsOf(tag: String, fromMs: Double, toMs: Double): Seq[JobRec] = synchronized {
    jobs.valuesIterator.filter { j =>
      j.tag == tag || (j.tag == null && j.startMs >= fromMs && j.startMs <= toMs)
    }.toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.submitMs >= 0)
  }
}

/** Spans kept in memory and written once at the end. Times are epoch
  * milliseconds on the harness [[Clock]]. */
final class Spans(clock: Clock) {
  import Spans.Span
  private val buf = mutable.ArrayBuffer.empty[Span]

  def clockMs(nanoTime: Long): Double = clock.epochMs(nanoTime)

  def add(name: String, parent: Option[Int], t0: Long, t1: Long,
      attrs: Map[String, Any] = Map.empty): Int =
    addMs(name, parent, clock.epochMs(t0), clock.epochMs(t1), attrs)

  def addMs(name: String, parent: Option[Int], startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = buf.size
    buf += Span(id, parent, name, startMs, endMs, attrs)
    id
  }

  /** Writes one JSON object per span. Self time is the span's duration
    * minus the part of it that its children cover. */
  def write(path: Path): Unit = synchronized {
    val children = buf.groupBy(_.parent)
    val lines = buf.map { s =>
      val kids = children.getOrElse(Some(s.id), Nil).toSeq
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }
      val self = (s.endMs - s.startMs) - Intervals.union(kids)
      Harness.json.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> (s.endMs - s.startMs), "self_ms" -> self,
        "attrs" -> s.attrs))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Spans {
  final case class Span(id: Int, parent: Option[Int], name: String,
      startMs: Double, endMs: Double, attrs: Map[String, Any])
}

object Intervals {
  /** Merge possibly overlapping intervals, sorted by start. */
  def merge(ivs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    ivs.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** Length of the union of intervals. */
  def union(ivs: Seq[(Double, Double)]): Double =
    merge(ivs).map { case (a, b) => b - a }.sum
}

/** Janino compilations so far: `classes` as `CodegenMetrics` counts them,
  * and `logged` compiles with their summed time `ms` from the code
  * generator's own INFO line ("Code generated in N ms"), which it logs once
  * per compiled class. The metric's time histogram keeps only a sample, so
  * it gives no total; the two counts agree while the log capture works. */
final case class Codegen(classes: Long, logged: Long, ms: Double) {
  def -(o: Codegen): Codegen = Codegen(classes - o.classes, logged - o.logged, ms - o.ms)
}

/** Captures the code generator's log line. The logger is routed to an
  * in-memory appender only, so nothing extra is printed. */
final class CodegenLog {
  private var logged = 0L
  private var ms = 0.0
  def add(x: Double): Unit = synchronized { logged += 1; ms += x }
  def snapshot: Codegen = synchronized(
    Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, logged, ms))
}

object CodegenLog {
  private val LoggerName =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Line = """Code generated in ([0-9.]+) ms""".r.unanchored

  def install(): CodegenLog = {
    val log = new CodegenLog
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val appender = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Line(ms) => log.add(ms.toDouble)
          case _ =>
        }
    }
    appender.start()
    cfg.addAppender(appender)
    val lc = new LoggerConfig(LoggerName, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(LoggerName, lc)
    ctx.updateLoggers()
    log
  }
}

/** Shuffle and broadcast exchanges in a final (post-AQE) physical plan,
  * query stages and subqueries included; reused exchanges are not counted. */
object PlanExchanges extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}

/** Per-query layer metrics and spans for one traced query. */
object Layers {
  def forQuery(tr: Harness.Tracing, tag: String, df: DataFrame,
      t0: Long, t1: Long, t2: Long, t3: Long, t4: Long,
      cg: Codegen, rows: Long): Map[String, Double] = {
    val spans = tr.spans
    val rec = tr.recorder
    val Seq(s0, s1, s2, s3, s4) = Seq(t0, t1, t2, t3, t4).map(spans.clockMs)
    val wallMs = s3 - s0

    val q = spans.addMs("query", None, s0, s4, Map("query" -> tag, "wall_ms" -> wallMs))
    val phases = Seq(
      spans.addMs("queries.build", Some(q), s0, s1) -> (s0, s1),
      spans.addMs("catalyst", Some(q), s1, s2) -> (s1, s2),
      spans.addMs("exec", Some(q), s2, s3) -> (s2, s3),
      spans.addMs("cache.release", Some(q), s3, s4) -> (s3, s4))

    val jobs = rec.jobsOf(tag, s0, s4)
    val jobIvs = jobs.map(j => (j.startMs.toDouble,
      if (j.endMs >= 0) j.endMs.toDouble else s3))
    // innermost open span at the job's start, else the query span
    def parentAt(ms: Double): Int = phases.collectFirst {
      case (id, (a, b)) if ms >= a && ms < b => id
    }.getOrElse(q)
    val stageRecs = rec.stagesOf(jobs)
    jobs.zip(jobIvs).foreach { case (j, (a, b)) =>
      val jobSpan = spans.addMs("spark.job", Some(parentAt(a)), a, b,
        Map("job" -> j.id))
      j.stageIds.flatMap(id => stageRecs.find(_.id == id)).foreach { st =>
        val end = if (st.completeMs >= 0) st.completeMs.toDouble else b
        spans.addMs("spark.stage", Some(jobSpan), st.submitMs.toDouble, end,
          Map("stage" -> st.id, "tasks" -> st.tasks, "name" -> st.name))
      }
    }

    // Scheduler ledger: busy is the union of the query's job intervals,
    // idle the time no job of the query ran (lead, gaps, tail), overlap
    // the job time the union hides (concurrent jobs, e.g. async
    // broadcasts). busy + idle equals the wall only while every job lies
    // inside the query's window; `ledger_err` measures the difference.
    val merged = Intervals.merge(jobIvs)
    val busy = merged.map { case (a, b) => b - a }.sum
    val idle =
      if (merged.isEmpty) wallMs
      else math.max(0, merged.head._1 - s0) + math.max(0, s3 - merged.last._2) +
        merged.sliding(2).collect { case Seq((_, b), (c, _)) => c - b }.sum
    val overlap = jobIvs.map { case (a, b) => b - a }.sum - busy

    val buildJobs = jobs.count(_.startMs < s1)
    val longest = stageRecs.filter(_.completeMs >= 0)
      .sortBy(s => s.submitMs - s.completeMs).headOption
    val skew = longest.filter(_.durations.nonEmpty).map { s =>
      val d = s.durations.sorted
      val median = d(d.size / 2).toDouble
      if (median > 0) d.last / median else 1.0
    }.getOrElse(1.0)
    val (exchanges, broadcasts) =
      Option(df).map(d => PlanExchanges(d.queryExecution.executedPlan)).getOrElse((0, 0))
    val phaseMs = Option(df).map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
    def phase(name: String): Double = phaseMs.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
    def sum(f: Recorder#StageRec => Long): Double = stageRecs.map(f(_).toDouble).sum

    Map(
      "queries.build_s" -> (s1 - s0) / 1e3,
      "queries.build_jobs" -> buildJobs.toDouble,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "codegen.compile_s" -> cg.ms / 1e3,
      "codegen.classes" -> cg.classes.toDouble,
      "codegen.logged_classes" -> cg.logged.toDouble,
      "exec.s" -> (s3 - s2) / 1e3,
      "exec.jobs" -> (jobs.size - buildJobs).toDouble,
      "exec.stages" -> stageRecs.size.toDouble,
      "exec.tasks" -> sum(_.tasks),
      "exec.task_failures" -> sum(_.failures),
      "scheduler.busy_s" -> busy / 1e3,
      "scheduler.idle_s" -> idle / 1e3,
      "scheduler.overlap_s" -> overlap / 1e3,
      "scheduler.ledger_err_s" -> math.abs(busy + idle - wallMs) / 1e3,
      "executor.run_s" -> sum(_.runMs) / 1e3,
      "executor.cpu_s" -> sum(_.cpuNs) / 1e9,
      "executor.gc_s" -> sum(_.gcMs) / 1e3,
      "executor.task_skew" -> skew,
      "executor.longest_stage_s" ->
        longest.map(s => (s.completeMs - s.submitMs) / 1e3).getOrElse(0.0),
      "exchange.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "exchange.shuffle_read_bytes" -> sum(_.shuffleRead),
      "exchange.spill_bytes" -> sum(_.spill),
      "exchange.exchanges" -> exchanges.toDouble,
      "exchange.broadcasts" -> broadcasts.toDouble,
      "scan.input_bytes" -> sum(_.inputBytes),
      "scan.input_records" -> sum(_.inputRecords),
      "cache.release_s" -> (s4 - s3) / 1e3,
      "result.rows" -> math.max(rows, 0L).toDouble)
  }
}
