package perfbench

import java.io.File

/** Shared pieces of the per-layer report. */
object Report {
  /** The layers spans are charged to: the harness, graft's modules, and
   * Spark's scheduler/exchange runtime. */
  val Layers: Seq[String] = Seq("harness", "graft.logs", "graft.sql", "graft.functions",
    "graft.operators", "graft.sources", "graft.streaming", "spark")

  def tracedMedian(b: Bench, name: String): Double = {
    val xs = b.tracedCalls(name)
    if (xs.isEmpty) Double.NaN else Stats.median(xs)
  }

  /** Traced ÷ untraced median round time, minus one. */
  def roundOverhead(b: Bench): Double = {
    val (t, u) = b.roundTimes.partition(_._2)
    if (t.isEmpty || u.isEmpty) Double.NaN
    else Stats.median(t.map(_._1).toSeq) / Stats.median(u.map(_._1).toSeq) - 1
  }
}

/**
 * One benchmark run: generate inputs, set up (three times, reporting the
 * median), measure, check, report. Prints a human-readable report and,
 * as the last line, the result JSON.
 */
object Main {
  def main(args: Array[String]): Unit = {
    // exit explicitly: a failed run must not hang on Spark's non-daemon threads
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val b = new Bench(opts)
    val wl: Workload = opts.workload match {
      case "log_scan"        => new LogScan(b)
      case "corpus_pipeline" => new CorpusPipe(b)
      case "log_stream"      => new LogStreamLoad(b)
      case other             => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def timed(f: => Unit): Double = { val t = b.nowMs; f; (b.nowMs - t) / 1000.0 }

    // set-up runs from JVM start to a warmed session, input generation excluded
    var genS = timed(wl.genWarm())
    b.startSession()
    wl.warm()
    val setupCold = (b.nowMs - b.jvmStartMs) / 1000.0 - genS
    genS += timed(wl.gen())
    val rebuilds = (1 to 2).map { _ =>
      b.stopSession()
      timed { b.startSession(); wl.warm() }
    }
    val setups = setupCold +: rebuilds
    b.calls.clear()

    wl.measure()
    val e2e = wl.endToEnd
    val rss = b.peakRssMb
    val spans = if (opts.trace) b.allSpans() else Nil
    b.stopSession()

    val out = new StringBuilder
    def line(s: String): Unit = out ++= s ++= "\n"
    def metric(kind: String, m: Metric, note: String = ""): Unit =
      line(f"$kind%-9s ${m.name}%-34s ${Json.num(m.value)}%-22s ${m.unit}%-6s $note".stripTrailing)

    line(s"perfbench run=${b.runId} workload=${opts.workload} seed=${opts.seed} " +
      s"seconds=${opts.seconds} trace=${if (opts.trace) 1 else 0} cores=${opts.cores}")
    val tail = Stats.tail(e2e.latencies)
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setups), "s") ->
        s"median of ${setups.size} set-ups: ${setups.map(s => f"$s%.3f").mkString(", ")}",
      Metric("work_per_s", e2e.workPerS, "1/s") -> s"= ${e2e.workName}",
      Metric("latency_p50_s", Stats.median(e2e.latencies), "s") ->
        s"${e2e.latencyName} p50 of ${e2e.latencies.size} samples",
      Metric("latency_tail_s", tail.value, "s") ->
        f"${e2e.latencyName} p${tail.percentile}%.1f of ${tail.samples} samples, ${tail.beyondIt} beyond it")
    endToEnd.foreach { case (m, note) => metric("e2e", m, note) }
    line(s"e2e       failed_frac                        ${Json.num(b.failed.toDouble / b.attempted)}" +
      s"  (${b.failed} failed of ${b.attempted} calls and checks)")

    val units = math.max(1, wl.tracedUnits)
    val perLayer = if (!opts.trace) Nil else {
      val self = Spans.selfTimes(spans)
      val byLayer = Report.Layers.map(l => l -> spans.filter(_.layer == l).map(s => self(s.id)).sum / units)
      val callSpans = spans.filter(b.isCall)
      val total = new GroupCounts
      callSpans.foreach(s => total.add(b.countsOf(s.group)))
      val skews = callSpans.map(s => b.countsOf(s.group)).filter(_.tasks > 0).map(_.skew)
      val generic = Seq(
        Metric("spark.jobs", total.jobs.toDouble / units, "count"),
        Metric("spark.tasks", total.tasks.toDouble / units, "count"),
        Metric("spark.executor_cpu_s", total.cpuNs / 1e9 / units, "s"),
        Metric("spark.scheduler_delay_s", total.schedulerDelayMs / 1e3 / units, "s"),
        Metric("spark.gc_s", total.gcMs / 1e3 / units, "s"),
        Metric("spark.shuffle_write_bytes", total.shuffleWriteBytes.toDouble / units, "bytes"),
        Metric("spark.shuffle_read_bytes", total.shuffleReadBytes.toDouble / units, "bytes"),
        Metric("spark.input_bytes", total.inputBytes.toDouble / units, "bytes"),
        Metric("spark.task_skew", if (skews.isEmpty) Double.NaN else Stats.median(skews), "ratio"),
        Metric("self_s.spark", byLayer.toMap.apply("spark"), "s"),
        Metric("self_s.graft", byLayer.filter(_._1.startsWith("graft.")).map(_._2).sum, "s"),
        Metric("peak_rss_mb", rss, "MB"),
        Metric("harness.gen_s", genS, "s"),
        Metric("harness.setup_cold_s", setupCold, "s"),
        Metric("harness.trace_overhead_frac", wl.traceOverheadFrac, "frac"))
      val detail = Seq(Metric("spark.spill_bytes", total.spillBytes.toDouble / units, "bytes")) ++
        byLayer.map { case (l, s) => Metric(s"self_s.layer.$l", s, "s") } ++ wl.layerMetrics

      line(s"per-layer metrics are per traced unit of work ($units traced " +
        s"${if (opts.workload == "log_stream") "run" else "rounds"})")
      generic.foreach(metric("per_layer", _))
      detail.foreach(metric("layer", _))
      line("ledger per call (traced calls; counts of the call's own job group):")
      callSpans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
        val c = new GroupCounts
        ss.foreach(s => c.add(b.countsOf(s.group)))
        line(f"  $name%-30s n=${ss.size}%-3d " + c.fields.map { case (k, v) =>
          s"$k=${if (v == math.rint(v)) v.toLong.toString else f"$v%.3f"}" }.mkString(" "))
      }
      writeTrace(b, opts.out, spans, self, generic ++ detail)
      generic
    }
    b.calls.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, cs) =>
      val xs = cs.map(_.seconds).toSeq
      line(f"call      $name%-34s n=${xs.size}%-3d median=${Stats.median(xs)}%.4f s  " +
        f"min=${xs.min}%.4f max=${xs.max}%.4f")
    }
    if (b.roundTimes.nonEmpty)
      line("rounds (s, * traced): " + b.roundTimes.map { case (s, t) => f"$s%.3f${if (t) "*" else ""}" }.mkString(" "))
    if (b.failures.nonEmpty) b.failures.foreach(f => line(s"FAILED $f"))

    val reported = if (opts.trace) perLayer else endToEnd.map(_._1)
    val json = Json.obj(Seq(
      "correct" -> (b.failed == 0).toString,
      "attempted" -> b.attempted.toString,
      "failed" -> b.failed.toString,
      "metrics" -> Json.obj(reported.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
    print(out.toString)
    println(json)
    System.out.flush()
  }

  /** The traced run's artifacts: every span, and a self-time summary. */
  private def writeTrace(b: Bench, out: File, spans: Seq[Span], self: Map[Int, Double],
      metrics: Seq[Metric]): Unit = {
    out.mkdirs()
    Spans.write(new File(out, "spans.jsonl"), b.runId, spans)
    val byName = spans.filter(_.layer != "spark").groupBy(s => (s.layer, s.name.replaceAll("\\d+$", "#")))
      .toSeq.sortBy(_._1).map { case ((layer, name), ss) =>
        Json.obj(Seq("layer" -> Json.str(layer), "name" -> Json.str(name), "count" -> ss.size.toString,
          "total_s" -> Json.num(ss.map(s => s.endMs - s.startMs).sum / 1000),
          "self_s" -> Json.num(ss.map(s => self(s.id)).sum)))
      }
    Gen.writeText(new File(out, "summary.json"), Json.obj(Seq(
      "run" -> Json.str(b.runId),
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))),
      "spans" -> byName.mkString("[\n  ", ",\n  ", "\n]"))) + "\n")
  }
}
