package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{CacheScope, Measure, SessionTuning, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run of one workload in one JVM (driven by `run.py`).
  *
  *  1. set-up: build the session exactly as `graft.Bench` does, then run
  *     every query of the workload once on the input and write its result
  *     as parquet. This pass pays Janino and JIT cost for each plan shape
  *     before timing starts, and its results are what `run.py` checks
  *     against the oracle; a query that fails here aborts the run;
  *  2. timed passes, closed loop with one client: the next query starts
  *     when the previous result is materialized. Each pass runs every query
  *     once, in an order drawn from the seed; passes repeat until the time
  *     budget is spent. With tracing on, passes alternate traced and
  *     untraced, so the tracing overhead is measured in the same JVM.
  *
  * Arguments are `key=value`: workload, input, queries (comma separated
  * qNN keys), seed, seconds, min_passes (run at least this many passes,
  * even past `seconds`), trace (0|1), out (a directory). Everything
  * measured goes to `out/result.json`; spans go to `out/spans.jsonl` when
  * tracing.
  */
object Harness {
  /** Local property naming the query that submitted a job. */
  val QueryTag = "perfbench.query"

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val workload = opt("workload")
    val input = opt("input")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val minPasses = opt("min_passes").toInt
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)

    val catalog = SparkEntry.queries
    val queries: Seq[String] = opt("queries").split(',').toSeq.map { key =>
      catalog.keys.filter(_.startsWith(key + "_")).toSeq match {
        case Seq(name) => name
        case other => sys.error(s"query key $key matches ${other.size} queries")
      }
    }

    val clock = new Clock
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans(clock)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())

    // Session parity with graft.Bench: same settings, same order.
    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        SessionTuning.shufflePartitionsConf(input, cpus))
      .config("spark.sql.codegen.cache.maxEntries",
        SessionTuning.codegenCacheConf)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionEnd = System.nanoTime()
    if (traced) spans.add("session.build", None, tSession, sessionEnd)
    val settings = Seq(
      "spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.codegen.cache.maxEntries", "spark.sql.adaptive.enabled",
      "spark.sql.session.timeZone", "spark.ui.enabled", "spark.local.dir")
      .map(k => k -> spark.conf.getOption(k).getOrElse(
        spark.sparkContext.getConf.get(k, "")))

    // Installed before the set-up pass, which compiles every plan shape, so
    // the run can check that the log capture agrees with CodegenMetrics.
    val codegen = if (traced) Some(CodegenLog.install()) else None
    val setupCg0 = codegen.map(_.snapshot)
    val warmup = queries.map { name =>
      val t = System.nanoTime()
      val dest = out.resolve("results").resolve(name).toString
      try catalog(name)(spark, input).coalesce(1).write.parquet(dest)
      catch { case NonFatal(e) =>
        System.err.println(s"perfbench: warmup of $name failed: $e")
        spark.stop()
        sys.exit(3)
      }
      finally CacheScope.releaseAll()
      Map[String, Any]("name" -> name, "path" -> dest,
        "s" -> (System.nanoTime() - t) / 1e9)
    }
    val warmupEnd = System.nanoTime()
    if (traced) spans.add("session.warmup", None, sessionEnd, warmupEnd)
    val setupS = (clock.epochMs(warmupEnd) - jvmStartMs) / 1e3
    val setupCodegen = codegen.map(_.snapshot - setupCg0.get)

    val recorder = new Recorder
    val rng = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    // Traced runs alternate traced and untraced passes in blocks of four
    // (T U U T), so a warming JVM biases neither side of the overhead.
    while (pass < minPasses || (traced && pass % 4 != 0) ||
        System.nanoTime() < deadline) {
      val tracePass = traced && (pass % 4 == 0 || pass % 4 == 3)
      if (tracePass) spark.sparkContext.addSparkListener(recorder)
      val cpu0 = processCpuNs()
      val runs = rng.shuffle(queries).map { name =>
        runQuery(spark, catalog(name), name, pass, input,
          if (tracePass) Some(Tracing(recorder, spans, codegen.get)) else None)
      }
      val cpuS = (processCpuNs() - cpu0) / 1e9
      if (tracePass) spark.sparkContext.removeSparkListener(recorder)
      passes += Map(
        "pass" -> pass, "traced" -> tracePass, "cpu_s" -> cpuS,
        "heap_committed_mb" -> heapCommittedMb(),
        "wall_s" -> runs.map(_("wall_s").asInstanceOf[Double]).sum,
        "queries" -> runs)
      pass += 1
    }

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }

    val result = Map[String, Any](
      "workload" -> workload, "input" -> input, "seed" -> seed,
      "cpus" -> cpus, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "settings" -> settings.toMap,
      "setup_s" -> setupS,
      "session_build_s" -> (sessionEnd - tSession) / 1e9,
      "warmup_s" -> (warmupEnd - sessionEnd) / 1e9,
      "passes" -> passes.toSeq,
      "checks" -> warmup,
      "setup_codegen" -> setupCodegen.map(c =>
        Map("classes" -> c.classes, "logged" -> c.logged)),
      "oracle_sql" -> oracle,
      "peak_rss_mb" -> peakRssMb())
    if (traced) spans.write(out.resolve("spans.jsonl"))
    json.writeValue(out.resolve("result.json").toFile, result)
    spark.stop()
  }

  final case class Tracing(recorder: Recorder, spans: Spans, codegen: CodegenLog)

  /** Run one query: construct the DataFrame (`queries.build`), plan it
    * (`catalyst`), materialize it (`exec`), then drop its caches
    * (`cache.release`, outside the query's wall time). Returns the
    * query's record for `result.json`. */
  def runQuery(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      name: String, pass: Int, input: String,
      tracing: Option[Tracing]): Map[String, Any] = {
    val sc = spark.sparkContext
    val tag = s"$pass/$name"
    val cg0 = tracing.map(_.codegen.snapshot)
    sc.setLocalProperty(QueryTag, tag)
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    var df: DataFrame = null
    var rows = -1L
    val error =
      try {
        df = fn(spark, input)
        t1 = System.nanoTime()
        df.queryExecution.executedPlan
        t2 = System.nanoTime()
        rows = Measure.force(df)
        t3 = System.nanoTime()
        None
      } catch { case NonFatal(e) =>
        t3 = System.nanoTime()
        Some(e.toString)
      } finally sc.setLocalProperty(QueryTag, null)
    if (t1 == t0) t1 = t3
    if (t2 == t0) t2 = t3
    val cg1 = tracing.map(_.codegen.snapshot)
    CacheScope.releaseAll()
    val t4 = System.nanoTime()
    val layers = tracing.map { tr =>
      org.apache.spark.sql.graft.ListenerDrain.drain(sc)
      Layers.forQuery(tr, tag, df, t0, t1, t2, t3, t4,
        cg1.get - cg0.get, rows)
    }.getOrElse(Map.empty)
    Map("name" -> name, "wall_s" -> (t3 - t0) / 1e9, "rows" -> rows,
      "error" -> error, "layers" -> layers)
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status)
      .map(_.group(1).toDouble / 1024).getOrElse(sys.error("no VmHWM in /proc/self/status"))
  }

  private def heapCommittedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so harness
  * spans (nanoTime) and listener events (currentTimeMillis) share one axis. */
final class Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def epochMs(nanoTime: Long): Double = baseMs + (nanoTime - baseNs) / 1e6
}
