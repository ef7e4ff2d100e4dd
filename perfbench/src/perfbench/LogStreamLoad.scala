package perfbench

import graft.logs.HttpdLog
import graft.streaming.{LogStream, SessionEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/**
 * log_stream: an open loop. A feeder thread drops a K-line log file into
 * a watched directory on a fixed schedule, each event stamped with the
 * time its file was due; the stream parses with `LogStream.read` and
 * keeps windowed status counts in update mode. Latency runs from an
 * event's stamp to the end of the micro-batch that emitted its window.
 * A drain phase then runs a pre-written backlog through the same query
 * and through `sessionize`.
 */
final class LogStreamLoad(b: Bench) extends Workload {
  private val o = b.opts
  private val Fmt = StreamGen.Format
  private var ckptSeq = 0

  private var warmDir: File = _
  private var backlogDir: File = _
  private var backlogLines = 0L

  private var liveFiles = 0
  private var liveDir: File = _
  private var lateS = Seq.empty[Double]
  private var latencies = Seq.empty[Double]
  private var liveProgress = Vector.empty[StreamingQueryProgress]
  private var filesPerBatch = Seq.empty[Int]

  /** Pre-written files: `files` × `lines` events, file i stamped i × 5 s after a base. */
  private def writeBacklog(name: String, stream: Long, files: Int, lines: Int): File = {
    val dir = b.dir(name)
    val stage = b.dir(name + "-stage")
    val r = Gen.rng(o.seed, stream)
    val hosts = new LogGen.Hosts(r, 300)
    val base = 1717200000000L + r.nextInt(1000000) * 1000L
    (0 until files).foreach(i =>
      StreamGen.dropFile(dir, stage, f"part-$i%06d.log", r, hosts, lines, base + i * 5000L))
    Gen.writeText(new File(b.dir(name + "-truth"), "truth.json"),
      Json.obj(Seq("files" -> files.toString, "lines" -> (files.toLong * lines).toString)) + "\n")
    dir
  }

  def genWarm(): Unit = warmDir = writeBacklog("warm-stream", 1, 4, 200)

  def gen(): Unit = {
    backlogDir = writeBacklog("backlog", 2, o.int("backlog_files"), o.int("backlog_lines"))
    backlogLines = o.int("backlog_files").toLong * o.int("backlog_lines")
  }

  private def checkpoint(): String = { ckptSeq += 1; b.dir(s"ckpt-$ckptSeq").getPath }

  /** Windowed counts of `dir` run to the end of its input. The backlog's
   * events span minutes, so a one-hour watermark keeps every window. */
  private def drainWindows(dir: File): Map[(Long, Int), Long] = {
    val state = new ConcurrentHashMap[(Long, Int), Long]()
    val q = windows(LogStream.read(b.spark, dir.getPath, Fmt), "1 hour", state, checkpoint())
      .trigger(Trigger.AvailableNow()).start()
    b.adoptStream(q.runId)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    state.asScala.toMap
  }

  /** Windowed status counts in update mode into a sink that keeps the
   * latest count per (window start, status). */
  private def windows(parsed: DataFrame, watermark: String,
      state: ConcurrentHashMap[(Long, Int), Long], ckpt: String) = {
    val sink: (DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach(r => state.put((r.getTimestamp(0).getTime, r.getInt(1)), r.getLong(2)))
    LogStream.windowedStatusCounts(parsed, watermark, o.param("window"))
      .writeStream.outputMode("update").option("checkpointLocation", ckpt)
      .foreachBatch(sink)
  }

  private def sessionizeHosts(dir: File): Set[String] = {
    val spark = b.spark
    import spark.implicits._
    val hosts = ConcurrentHashMap.newKeySet[String]()
    val events = LogStream.read(spark, dir.getPath, Fmt)
      .select(col("client_host").as("clientHost"), col("timestamp").as("ts")).as[SessionEvent]
    val sink: (DataFrame, Long) => Unit = (df, _) =>
      df.select("clientHost").distinct().collect().foreach(r => hosts.add(r.getString(0)))
    val q = LogStream.sessionize(events, o.int("session_gap_s").toLong, "1 minute").toDF()
      .writeStream.outputMode("append").option("checkpointLocation", checkpoint())
      .trigger(Trigger.AvailableNow()).foreachBatch(sink).start()
    b.adoptStream(q.runId)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    hosts.asScala.toSet
  }

  /** The same windowed counts computed by a batch read of the same files. */
  private def batchWindows(dir: File): Map[(Long, Int), Long] =
    HttpdLog.read(b.spark, dir.getPath, formatStr = Fmt)
      .groupBy(window(col("timestamp"), o.param("window")).getField("start"), col("status"))
      .count().collect()
      .map(r => (r.getTimestamp(0).getTime, r.getInt(1)) -> r.getLong(2)).toMap

  def warm(): Unit = {
    drainWindows(warmDir)
    sessionizeHosts(warmDir)
    batchWindows(warmDir)
  }

  def measure(): Unit = {
    b.section("live", o.trace) {
      b.call("streaming.live", "graft.streaming")(live())
    }
    val want = batchWindows(backlogDir)
    val wantHosts = HttpdLog.read(b.spark, backlogDir.getPath, formatStr = Fmt)
      .select("client_host").distinct().collect().map(_.getString(0)).toSet
    // an untraced run drains three times and reports the median; the
    // traced run drains untraced-traced-traced-untraced, so the overhead
    // estimate carries no order effect
    (if (o.trace) Seq(false, true, true, false) else Seq(false, false, false)).foreach { traced =>
      b.section("drain", traced) {
        b.call("streaming.drain", "graft.streaming")(drainWindows(backlogDir)).foreach(got =>
          b.check("drained window counts equal a batch read of the backlog")(got == want,
            s"${got.size} vs ${want.size} windows"))
      }
    }
    b.section("sessionize", o.trace) {
      b.call("streaming.sessionize_drain", "graft.streaming")(sessionizeHosts(backlogDir)).foreach(got =>
        b.check("sessionize reports every client of the backlog")(got == wantHosts,
          s"${got.size} vs ${wantHosts.size} hosts"))
    }
  }

  private val LogOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r
  private val EntryPath = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
  private val EntryBatch = "\"batchId\"\\s*:\\s*(\\d+)".r

  /** File name → file-source batch id, from the source's metadata log. */
  private def sourceBatches(ckpt: String): Map[String, Long] = {
    val dir = new File(ckpt, "sources/0")
    dir.listFiles().filter(f => f.isFile && !f.getName.startsWith(".")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).flatMap { l =>
        for (p <- EntryPath.findFirstMatchIn(l); bt <- EntryBatch.findFirstMatchIn(l))
          yield p.group(1).substring(p.group(1).lastIndexOf('/') + 1) -> bt.group(1).toLong
      }.toVector
      finally src.close()
    }.toMap
  }

  private def live(): Unit = {
    val spark = b.spark
    val period = o.int("period_ms").toLong
    val k = o.int("lines_per_file")
    val warmin = o.int("warmin_s")
    liveFiles = ((warmin + o.seconds) * 1000L / period).toInt
    liveDir = b.dir("live")
    val ckpt = checkpoint()
    val state = new ConcurrentHashMap[(Long, Int), Long]()
    val q: StreamingQuery =
      windows(LogStream.read(spark, liveDir.getPath, Fmt), o.param("watermark"), state, ckpt).start()
    b.adoptStream(q.runId)
    val t0 = math.ceil(b.nowMs).toLong + 200
    val feeder = new StreamGen.Feeder(liveDir, b.dir("live-stage"), o.seed, liveFiles, k, period, t0,
      () => b.nowMs)
    feeder.start()
    feeder.join()
    try {
      if (feeder.error != null) throw feeder.error
      q.processAllAvailable()
    } finally q.stop()
    q.exception.foreach(e => throw e)
    b.drainBus()

    // event latency: file → source batch → query batch → batch end
    liveProgress = b.progress.of(q.runId)
    val fileBatch = sourceBatches(ckpt)
    val ends = liveProgress.filter(_.numInputRows > 0).map { p =>
      val s = Option(p.sources.head.startOffset).flatMap(LogOffset.findFirstMatchIn).map(_.group(1).toLong)
        .getOrElse(-1L)
      val e = LogOffset.findFirstMatchIn(p.sources.head.endOffset).map(_.group(1).toLong).get
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")
      (s, e, end.toDouble)
    }
    def endOf(sourceBatch: Long): Option[Double] =
      ends.find { case (s, e, _) => sourceBatch > s && sourceBatch <= e }.map(_._3)
    val perFile = (0 until liveFiles).map(i => f"part-$i%06d.log").map(n => fileBatch.get(n).flatMap(endOf))
    b.check("every live file was processed by a micro-batch")(perFile.forall(_.isDefined),
      s"${perFile.count(_.isEmpty)} of $liveFiles files unmatched")
    val measured = (0 until liveFiles).filter(i => feeder.dueMs(i) >= t0 + warmin * 1000L)
    latencies = measured.flatMap(i => perFile(i).map(end => (end - feeder.dueMs(i)) / 1000.0))
    lateS = measured.map(i => feeder.lateMs(i) / 1000.0)
    filesPerBatch = ends.map { case (s, e, _) => fileBatch.values.count(v => v > s && v <= e) }

    val want = batchWindows(liveDir)
    b.check("final streamed window counts equal a batch read of the same files")(
      state.asScala.toMap == want, s"${state.size} vs ${want.size} windows")
  }

  def endToEnd: EndToEnd = {
    val drain = b.calls.filter(c => c.name == "streaming.drain" && !c.traced).map(_.seconds)
    EndToEnd(backlogLines / Stats.median(drain.toSeq), "stream_drain_lines_per_s", latencies,
      "stream_event_latency")
  }

  def tracedUnits: Int = 1

  def traceOverheadFrac: Double =
    Report.tracedMedian(b, "streaming.drain") / Stats.median(b.untracedCalls("streaming.drain")) - 1

  def layerMetrics: Seq[Metric] = {
    val data = liveProgress.filter(_.numInputRows > 0)
    def dur(k: String): Double = {
      val xs = data.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val ops = data.flatMap(_.stateOperators.headOption)
    Seq(
      Metric("streaming.batches", liveProgress.size.toDouble, "count"),
      Metric("streaming.trigger_p50_ms", dur("triggerExecution"), "ms"),
      Metric("streaming.add_batch_p50_ms", dur("addBatch"), "ms"),
      Metric("streaming.planning_p50_ms", dur("queryPlanning"), "ms"),
      Metric("streaming.latest_offset_p50_ms", dur("latestOffset"), "ms"),
      Metric("streaming.wal_commit_p50_ms", dur("walCommit"), "ms"),
      Metric("streaming.state_commit_p50_ms",
        if (ops.isEmpty) Double.NaN else Stats.median(ops.map(_.commitTimeMs.toDouble)), "ms"),
      Metric("streaming.state_rows_updated", ops.map(_.numRowsUpdated.toDouble).sum, "count"),
      Metric("streaming.state_memory_bytes",
        if (ops.isEmpty) Double.NaN else ops.map(_.memoryUsedBytes.toDouble).max, "bytes"),
      Metric("streaming.backlog_files_max", if (filesPerBatch.isEmpty) Double.NaN else filesPerBatch.max, "count"),
      Metric("streaming.drain_s", Report.tracedMedian(b, "streaming.drain"), "s"),
      Metric("streaming.sessionize_drain_s", Report.tracedMedian(b, "streaming.sessionize_drain"), "s"),
      Metric("harness.gen_late_s_max", if (lateS.isEmpty) Double.NaN else lateS.max, "s"))
  }
}
