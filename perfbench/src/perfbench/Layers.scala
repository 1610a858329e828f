package perfbench

/** Per-layer metrics of a traced window, computed from its spans.
  *
  * A layer's time is the mean self time per call of its span; its counts
  * are the mean per call of the counters recorded in that span. The
  * runtime counters are Spark task metrics per pass, summed over every
  * span of the pass; core utilization is task busy time over the passes'
  * wall time times the cores.
  */
object Layers {
  /** Spans reported as `<name>_s`. */
  val Timed = Seq(
    "sources.ingest", "ops.clean", "ops.encode", "ops.balance", "ops.text",
    "ml.rf_fit", "ml.lr_fit", "ml.lda_fit", "ml.predict",
    "ops.dedup.exact", "ops.dedup.minhash", "ops.dedup.verify", "ops.dedup.cc",
    "ops.dedup.incremental", "ops.dedup.containment",
    "ops.vector.knn", "ops.vector.index_build", "ops.vector.ivf_probe",
    "ops.vector.brute_probe")

  def metrics(spans: Seq[Span], listener: SpanListener,
              cores: Int): Seq[(String, Double, String)] = {
    val self = Span.selfSeconds(spans)
    def named(n: String) = spans.filter(_.name == n)
    def meanSelf(n: String) = {
      val c = named(n)
      if (c.isEmpty) 0.0 else c.map(s => self(s.id)).sum / c.size
    }
    def counter(ss: Seq[Span], key: String) = ss.map(_.counts.getOrElse(key, 0.0)).sum
    def perCall(n: String, key: String) = {
      val c = named(n)
      if (c.isEmpty) 0.0 else counter(c, key) / c.size
    }
    def tasks(ss: Seq[Span]) = {
      val t = new TaskCounters
      ss.foreach(s => Option(listener.bySpan.get(s.id)).foreach(t.add))
      t
    }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val passes = named("pass")
    val nPasses = math.max(passes.size, 1).toDouble
    // the runtime counters cover the passes, not the work a traced run
    // does once after its window
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = byId.get(s.parent).map(root).getOrElse(s)
    val inPasses = spans.filter(s => root(s).name == "pass")
    val window = tasks(inPasses)
    val fitJobs = tasks(spans.filter(s => Set("ml.rf_fit", "ml.lr_fit", "ml.lda_fit")(s.name))).jobs
    val cc = named("ops.dedup.cc")
    val verify = named("ops.dedup.verify")
    val mb = 1024.0 * 1024.0
    val boundaries = counter(inPasses, "boundaries")

    Timed.map(n => (s"${n}_s", meanSelf(n), "s")) ++ Seq(
      ("sources.corrupt_rows", perCall("sources.ingest", "corrupt_rows"), "count"),
      ("ml.fit_jobs", fitJobs / nPasses, "count"),
      ("ops.dedup.cc_jobs", ratio(tasks(cc).jobs.toDouble, cc.size.toDouble), "count"),
      ("ops.dedup.candidates", perCall("ops.dedup.verify", "candidates"), "count"),
      ("ops.dedup.verified", perCall("ops.dedup.verify", "verified"), "count"),
      ("ops.dedup.verify_yield",
        ratio(counter(verify, "verified"), counter(verify, "candidates")), "ratio"),
      ("ops.vector.distance_evals", perCall("ops.vector.knn", "distance_evals"), "count"),
      ("plans.plan_s", ratio(counter(inPasses, "plan_s"), boundaries), "s"),
      ("runtime.exec_s", ratio(counter(inPasses, "exec_s"), boundaries), "s"),
      ("runtime.jobs", window.jobs / nPasses, "count"),
      ("runtime.tasks", window.tasks / nPasses, "count"),
      ("runtime.task_busy_s", window.busyMs / 1e3 / nPasses, "s"),
      ("runtime.cpu_s", window.cpuNs / 1e9 / nPasses, "s"),
      ("runtime.gc_s", window.gcMs / 1e3 / nPasses, "s"),
      ("runtime.shuffle_write_mb", window.shuffleWriteBytes / mb / nPasses, "MB"),
      ("runtime.spill_mb", window.spillBytes / mb / nPasses, "MB"),
      ("runtime.core_utilization",
        ratio(window.busyMs / 1e3, passes.map(_.seconds).sum * cores), "ratio"),
      ("trace.pass_self_s", passes.map(s => self(s.id)).sum / nPasses, "s"))
  }
}
