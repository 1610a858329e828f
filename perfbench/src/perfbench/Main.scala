package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up one workload several times, warms
  * it up for a fixed number of passes, measures a window of whole passes
  * and prints one JSON result line.
  *
  *   perfbench.Main --workload <name> --input <dir> --seed <n>
  *                  --seconds <s> --trace <0|1> --out <dir>
  *                  [--load1 <x>] [--busy <share>]
  *
  * With `--trace 0` the line carries the end-to-end metrics. With
  * `--trace 1` the window is measured twice, untraced and then traced;
  * then the workload's traced-only work runs once. The line carries the
  * per-layer metrics from the traced spans plus the tracing overhead, and
  * the spans are written to `<out>/spans.jsonl`.
  * The exit code is 1 when an output check failed.
  */
object Main {
  val SetupRepetitions = 5

  /** Share of the machine busy before the run above which it is flagged. */
  val BusyFlag = 0.25

  def session(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      // the production session of graft.Bench
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      // the status store trims old jobs and stages on the listener thread,
      // so a drained bus means a trimmed store when the heap is sampled
      .config("spark.appStateStore.asyncTracking.enable", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val outDir = arg("out")
    Files.createDirectories(Paths.get(outDir))
    val cores = Runtime.getRuntime.availableProcessors()

    // ambient load, sampled by the launcher before it built or generated
    // anything: the 1-minute load average, and the share of the machine's
    // CPU time other processes used over a short interval (the load
    // average alone still counts a run that ended a minute ago)
    val load1 = args.get("load1").map(_.toDouble)
      .getOrElse(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
    val busy = args.get("busy").map(_.toDouble).getOrElse(0.0)
    val self = ProcessHandle.current()
    val otherJvms = ProcessHandle.allProcesses().filter { p =>
      p.pid != self.pid && !self.parent.map[Boolean](_.pid == p.pid).orElse(false) &&
        p.info.command.map[Boolean](_.endsWith("/java")).orElse(false)
    }.count()

    val workload = Workload(workloadName, arg("input"), seed)
    val runId = s"$workloadName-$seed-${System.currentTimeMillis()}"
    var spark: SparkSession = null
    var tracer: Tracer = null
    val setupSeconds = (1 to SetupRepetitions).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, s"$outDir/tmp")
      tracer = new Tracer(spark, runId)
      tracer.enabled = trace
      tracer.span("setup")(workload.setup(spark, tracer))
      (System.nanoTime() - t0) / 1e9
    }
    tracer.keepInputs()
    val setupSpans = tracer.takeSpans()
    tracer.enabled = false
    val warmup = Workload.warmup(tracer)(workload.pass())
    def discard(): Unit = { workload.checks(); workload.quality() }

    def window(): (Seq[Sample], Double) = {
      val t0 = System.nanoTime()
      val samples = Workload.bulkLoop(seconds, workload.itemsPerPass, tracer)(
        tracer.span("pass")(workload.pass()))
      (samples, (System.nanoTime() - t0) / 1e9)
    }
    val untraced = if (trace) { val w = window(); discard(); Some(w) } else None
    tracer.enabled = trace
    val (samples, wall) = window()
    if (trace) {
      val check = workload.tracedOnly()
      tracer.enabled = false
      check()
    }
    tracer.enabled = false
    val checks = workload.checks()
    val quality = workload.quality()

    val failedOps = samples.count(!_.ok)
    val failedChecks = checks.count(!_.ok)
    val attempted = samples.size + checks.size
    val failed = failedOps + failedChecks
    val correct = failed == 0

    val itemsPerSecond = Util.median(samples.map(s => s.items / s.seconds))
    val named = Seq(
      Named(workload.throughputName._1, itemsPerSecond, workload.throughputName._2),
      Named("pass_p50_s", Util.median(samples.map(_.seconds)), "s"),
      Named("failed_ops_ratio", failed.toDouble / attempted, "ratio"),
      Named("heap_peak_mb", HeapPeak.peakMb, "MB")) ++
      quality.toSeq.sortBy(_._1).map { case (k, v) => Named(k, v, "ratio") }
    val summary = named.map(n => f"${n.name}=${n.value}%.6g ${n.unit}").mkString("  ")
    println(s"[perfbench] workload=$workloadName seed=$seed samples=${samples.size} " +
      f"window_s=$wall%.2f warmup_s=${warmup.map(t => f"$t%.2f").mkString(",")} " +
      s"setup_s=${setupSeconds.map(t => f"$t%.2f").mkString(",")} " +
      f"load1_start=$load1%.2f busy_start=$busy%.2f other_jvms=$otherJvms")
    println(s"[perfbench] $summary")
    checks.filterNot(_.ok).foreach(c => println(s"[perfbench] CHECK FAILED ${c.name}: ${c.detail}"))
    // a run next to another JVM or on a loaded machine is flagged, not
    // dropped: whoever reads the results decides what to do with it
    val contaminated = otherJvms > 0 || busy > BusyFlag
    if (contaminated)
      println(f"[perfbench] WARNING: contaminated run (busy=$busy%.2f, other JVMs=$otherJvms)")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Util.median(setupSeconds), "s"),
        ("items_per_s", itemsPerSecond, "items/s"),
        ("quality", if (quality.isEmpty) 0.0 else quality.values.min, "ratio"),
        ("heap_peak_mb", HeapPeak.peakMb, "MB"))
      else {
        PerfbenchBus.drain(spark.sparkContext)
        val spans = tracer.takeSpans()
        val untracedUnit = Util.median(untraced.get._1.map(_.seconds))
        val tracedUnit = Util.median(samples.map(_.seconds))
        writeSpans(s"$outDir/spans.jsonl", setupSpans ++ spans, tracer.listener)
        Layers.metrics(spans, tracer.listener, cores) ++ Seq(
          ("trace.overhead_ratio", tracedUnit / untracedUnit - 1.0, "ratio"))
      }
    val details = Map(
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupSeconds, "warmup_s" -> warmup, "window_s" -> wall,
      "samples" -> samples.map(x => Map("seconds" -> x.seconds, "ok" -> x.ok)),
      "load1_start" -> load1, "busy_start" -> busy, "other_jvms" -> otherJvms,
      "contaminated" -> contaminated,
      "named" -> named.map(n => Map("name" -> n.name, "value" -> n.value, "unit" -> n.unit)),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "metrics" -> metrics.map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) })
    Files.write(Paths.get(s"$outDir/details.json"),
      org.json4s.jackson.Serialization.write(details)(org.json4s.DefaultFormats).getBytes(UTF_8))

    val metricJson = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $metricJson}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def writeSpans(path: String, spans: Seq[Span], listener: SpanListener): Unit = {
    val self = Span.selfSeconds(spans)
    val lines = spans.map { s =>
      val tc = Option(listener.bySpan.get(s.id)).getOrElse(new TaskCounters)
      val fields = Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> self(s.id),
        "counts" -> s.counts, "jobs" -> tc.jobs, "tasks" -> tc.tasks,
        "task_busy_ms" -> tc.busyMs, "cpu_ns" -> tc.cpuNs, "gc_ms" -> tc.gcMs,
        "shuffle_write_bytes" -> tc.shuffleWriteBytes, "spill_bytes" -> tc.spillBytes)
      org.json4s.jackson.Serialization.write(fields)(org.json4s.DefaultFormats)
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
