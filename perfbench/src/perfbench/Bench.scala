package perfbench

import graft.streaming.StateStoreConf
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal

/** Command-line options of the harness JVM (run.py passes them). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cores: Int,
    work: File,
    out: File,
    params: Map[String, String]) {

  def int(k: String): Int = param(k).toInt
  def double(k: String): Double = param(k).toDouble
  def param(k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"missing --param $k for $workload"))
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map[String, String]()
    val params = mutable.Map[String, String]()
    args.grouped(2).foreach {
      case Array("--param", p) =>
        val i = p.indexOf('=')
        require(i > 0, s"--param wants key=value, got $p")
        params(p.take(i)) = p.drop(i + 1)
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cores").toInt, new File(get("work")), new File(get("out")), params.toMap)
  }
}

/** A recorded interval; times are epoch milliseconds. */
final case class Span(
    id: Int,
    parent: Int,
    name: String,
    layer: String,
    group: String,
    startMs: Double,
    endMs: Double,
    counts: Seq[(String, Double)] = Nil)

/** One timed call: its wall time and whether it ran traced. */
final case class CallRecord(name: String, seconds: Double, traced: Boolean)

/**
 * State of one benchmark run: the Spark session, timed calls, checks,
 * and — while tracing — spans and the listener ledger.
 *
 * Every timed call gets its own job group, traced or not, so the traced
 * and untraced paths differ only in the listener and the span records.
 */
final class Bench(val opts: Opts) {
  val jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  val runId: String = s"${opts.workload}-seed${opts.seed}-${epochBaseMs.toLong}"
  val ledger = new Ledger
  val progress = new ProgressLog

  private var session: SparkSession = _
  def spark: SparkSession = session

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val calls = mutable.ArrayBuffer[CallRecord]()
  val roundTimes = mutable.ArrayBuffer[(Double, Boolean)]()

  private var tracing = false
  private var ledgerOn = false
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var groupSeq = 0
  /** streaming run id → job group of the call that ran the query */
  private val streamGroups = mutable.Map[String, String]()
  private val streamRuns = mutable.Map[String, java.util.UUID]()

  def dir(name: String): File = { val d = new File(opts.work, name); d.mkdirs(); d }

  /** Start a fresh local session with the library's state-store confs. */
  def startSession(): Unit = {
    val b = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").getPath)
      .config("spark.sql.warehouse.dir", dir("warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", dir("hadoop-tmp").getPath)
    session = StateStoreConf.applyTo(b).getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session.streams.addListener(progress)
    ledgerOn = false
  }

  def stopSession(): Unit = if (session != null) {
    session.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    session = null
  }

  def drainBus(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def setTracing(on: Boolean): Unit = {
    if (on && !ledgerOn) { spark.sparkContext.addSparkListener(ledger); ledgerOn = true }
    if (!on && ledgerOn) { drainBus(); spark.sparkContext.removeSparkListener(ledger); ledgerOn = false }
    tracing = on
  }

  private def openSpan(name: String, layer: String, group: String): Int = {
    val id = spans.size
    spans += Span(id, stack.headOption.getOrElse(-1), name, layer, group, nowMs, Double.NaN)
    stack = id :: stack
    id
  }

  private def closeSpan(id: Int): Unit = {
    spans(id) = spans(id).copy(endMs = nowMs)
    stack = stack.tail
  }

  /**
   * Time `body` as one call of `layer`'s public API. The call runs under
   * its own Spark job group; a thrown exception counts as a failed call.
   */
  def call[T](name: String, layer: String)(body: => T): Option[T] = {
    attempted += 1
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    groupSeq += 1
    val group = s"pb-$groupSeq"
    sc.setJobGroup(group, name)
    val span = if (tracing) openSpan(name, layer, group) else -1
    val t0 = System.nanoTime()
    try {
      val r = body
      calls += CallRecord(name, (System.nanoTime() - t0) / 1e9, tracing)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"call $name: $e"
        System.err.println(s"perfbench: call $name failed")
        e.printStackTrace()
        None
    } finally {
      if (span >= 0) closeSpan(span)
      if (prevGroup != null) sc.setJobGroup(prevGroup, prevDesc) else sc.clearJobGroup()
    }
  }

  /** Charge a streaming query's jobs and micro-batches to the innermost open call. */
  def adoptStream(runId: java.util.UUID): Unit = {
    val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    streamGroups(runId.toString) = group
    streamRuns(group) = runId
  }

  /** A correctness check; a false or throwing condition counts as failed. */
  def check(name: String)(cond: => Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    val ok = try cond catch {
      case NonFatal(e) => System.err.println(s"perfbench: check $name threw $e"); false
    }
    if (!ok) {
      failed += 1
      failures += s"check $name failed ${detail}"
      System.err.println(s"perfbench: check $name failed $detail")
    }
    ok
  }

  /**
   * Closed loop: after `warmin_s` of unrecorded warm-in rounds on the
   * measured inputs, rounds back to back until `opts.seconds` have passed.
   * In a traced run, rounds go untraced-traced-traced-untraced and the
   * round count is even, so the two halves give the tracing overhead
   * without an order effect.
   */
  def closedLoop(body: => Unit): Unit = {
    // unrecorded rounds on the measured inputs until the JIT has settled
    val warmUntil = nowMs + opts.int("warmin_s") * 1000.0
    do body while (nowMs < warmUntil)
    calls.clear()
    val deadline = nowMs + opts.seconds * 1000.0
    var i = 0
    while (i == 0 || nowMs < deadline || (opts.trace && i % 2 == 1)) {
      setTracing(opts.trace && (i % 4 == 1 || i % 4 == 2))
      val span = if (tracing) openSpan(s"round $i", "harness", "") else -1
      val t0 = nowMs
      body
      roundTimes += (((nowMs - t0) / 1000.0, tracing))
      if (span >= 0) closeSpan(span)
      i += 1
    }
    setTracing(false)
  }

  /** One traced or untraced section outside a closed loop. */
  def section(name: String, traced: Boolean)(body: => Unit): Unit = {
    setTracing(traced)
    val span = if (tracing) openSpan(name, "harness", "") else -1
    body
    if (span >= 0) closeSpan(span)
    setTracing(false)
  }

  def untracedCalls(name: String): Seq[Double] =
    calls.filter(c => c.name == name && !c.traced).map(_.seconds).toSeq
  def tracedCalls(name: String): Seq[Double] =
    calls.filter(c => c.name == name && c.traced).map(_.seconds).toSeq

  /** Ledger counts of a call group, including streaming jobs it adopted. */
  def countsOf(group: String): GroupCounts = {
    val c = ledger.groupCounts(group)
    streamRuns.get(group).foreach(r => c.add(ledger.groupCounts(r.toString)))
    c
  }

  /** Spans of the traced calls named `name`. */
  def tracedSpans(name: String): Seq[Span] = spans.filter(s => s.name == name && isCall(s)).toSeq

  def isCall(s: Span): Boolean = s.group.startsWith("pb-")

  /**
   * All spans of the run: call and round spans, plus one span per Spark
   * job (layer `spark`) and per streaming micro-batch (layer
   * `streaming`), nested under the call that caused them.
   */
  def allSpans(): Seq[Span] = {
    drainBus()
    val byGroup = spans.filter(_.group.nonEmpty).map(s => s.group -> s).toMap
    val out = mutable.ArrayBuffer[Span]()
    out ++= spans.map(s => if (s.group.isEmpty) s else s.copy(counts = countsOf(s.group).fields))
    var next = spans.size
    val batchSpans = mutable.ArrayBuffer[Span]()
    streamRuns.foreach { case (group, run) =>
      byGroup.get(group).foreach { call =>
        progress.of(run).foreach { p =>
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
          val sp = Span(next, call.id, s"batch ${p.batchId}", "streaming", run.toString,
            start, start + dur, Seq("input_rows" -> p.numInputRows.toDouble))
          next += 1
          batchSpans += sp
        }
      }
    }
    out ++= batchSpans
    ledger.jobs.foreach { j =>
      val owner = byGroup.get(j.group).orElse(streamGroups.get(j.group).flatMap(byGroup.get))
      owner.foreach { call =>
        val parent = batchSpans.find(b => b.group == j.group && b.startMs <= j.startMs && j.startMs <= b.endMs)
          .map(_.id).getOrElse(call.id)
        val end = if (j.endMs >= 0) j.endMs.toDouble else j.startMs.toDouble
        out += Span(next, parent, s"job ${j.id}", "spark", "", j.startMs.toDouble, end)
        next += 1
      }
    }
    out.toSeq
  }

  /** Peak resident set size of this JVM in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

object Spans {

  /** Self time of each span: its duration minus the part of it that its
   * children cover (overlapping children are merged). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      ivs.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.id -> math.max(0.0, (s.endMs - s.startMs) - covered) / 1000.0
    }.toMap
  }

  def write(file: File, runId: String, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "counts" -> Json.obj(s.counts.map { case (k, v) => k -> Json.num(v) }))))
    } finally w.close()
  }
}
