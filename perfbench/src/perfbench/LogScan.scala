package perfbench

import graft.logs.{HttpdLog, LogFormat}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.Row

import java.io.File
import java.util.concurrent.ConcurrentHashMap

/**
 * log_scan: a log analyst's closed loop. Each round runs the same calls
 * over combined-format logs in three codecs: auto-detected typed reads
 * per codec into a noop sink, an explicit-format aggregate by status, a
 * raw-mode parse-error report, scan statistics, a narrow SQL TVF
 * aggregate and a read through an httpd.conf nickname.
 */
final class LogScan(b: Bench) extends Workload {
  private val o = b.opts
  private val Codecs = Seq("plain", "gzip", "zstd")
  private val Globs = Map("plain" -> "access-plain-*.log", "gzip" -> "access-gzip-*.log.gz",
    "zstd" -> "access-zstd-*.log.zst")
  /** Calls whose latency a log analyst waits for (the TVF counts as one). */
  private val Queries = Seq("logs.read_plain", "logs.read_gzip", "logs.read_zstd", "logs.status_agg",
    "logs.read_raw", "logs.scan_stats", "sql.tvf", "logs.conf_read")

  private final case class Inputs(dir: File, conf: File, byCodec: Map[String, LogTruth], all: LogTruth) {
    def glob(codec: String): String = new File(dir, Globs(codec)).getPath
    def allGlob: String = new File(dir, "access-*").getPath
    def lines(query: String): Long = query match {
      case "logs.read_plain" => byCodec("plain").lines
      case "logs.read_gzip"  => byCodec("gzip").lines
      case "logs.read_zstd"  => byCodec("zstd").lines
      case _                 => all.lines
    }
  }

  private var warmIn: Inputs = _
  private var main: Inputs = _
  private val observed = new ConcurrentHashMap[String, Row]()
  private var parseErrorsFound = 0L

  private def write(name: String, stream: Long, files: Int, lines: Int): Inputs = {
    val dir = b.dir(name)
    val byCodec = LogGen.writeSet(dir, o.seed, stream, files, lines, o.double("error_share"))
    val all = new LogTruth
    byCodec.values.foreach(all.add)
    Gen.writeText(new File(dir, "truth.json"), Json.obj(
      byCodec.toSeq.sortBy(_._1).map { case (k, t) => k -> t.json } :+ ("all" -> all.json)) + "\n")
    val conf = new File(b.dir(name + "-conf"), "httpd.conf")
    LogGen.writeConf(conf)
    Inputs(dir, conf, byCodec, all)
  }

  def genWarm(): Unit = warmIn = write("warm-logs", 1, 1, 2000)
  def gen(): Unit = main = write("logs", 2, o.int("files_per_codec"), o.int("lines_per_file"))

  def warm(): Unit = {
    graft.sql.GraftSql.register(b.spark)
    b.spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => observed.put(k, v) }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    round(warmIn)
  }

  def measure(): Unit = b.closedLoop(round(main))

  private def round(in: Inputs): Unit = {
    val spark = b.spark
    b.call("logs.resolve_format", "graft.logs") {
      HttpdLog.resolveFormat(spark, in.glob("plain"), "", "", "", raw = false)
    }.foreach { case (fmt, raw) =>
      b.check("auto-detect picks the combined format")(fmt.original == LogFormat.Combined && !raw, fmt.original)
    }

    Codecs.foreach { codec =>
      val obs = s"pb_$codec"
      observed.remove(obs)
      b.call(s"logs.read_$codec", "graft.logs") {
        HttpdLog.read(spark, in.glob(codec), observeAs = obs).write.format("noop").mode("overwrite").save()
      }.foreach { _ =>
        b.drainBus()
        val t = in.byCodec(codec)
        val m = Option(observed.get(obs))
        b.check(s"$codec read scans every line")(
          m.exists(r => r.getLong(0) == t.lines && r.getLong(1) == t.errors && r.getLong(2) == t.bytesScanned),
          s"observed $m, want (${t.lines}, ${t.errors}, ${t.bytesScanned})")
      }
    }

    b.call("logs.status_agg", "graft.logs") {
      HttpdLog.read(spark, in.allGlob, formatStr = LogFormat.Combined)
        .groupBy("status").agg(count(lit(1)), sum("bytes")).collect()
    }.foreach(checkHistogram("status aggregate", in.all, _))

    b.call("logs.read_raw", "graft.logs") {
      HttpdLog.read(spark, in.allGlob, formatType = "combined", raw = true)
        .filter(col("parse_error")).groupBy("log_file").count().collect()
    }.foreach { rows =>
      val got = rows.map(r => new File(new java.net.URI(r.getString(0)).getPath).getName -> r.getLong(1)).toMap
      val want = in.all.errorsByFile.filter(_._2 > 0).toMap
      parseErrorsFound = got.values.sum
      b.check("raw mode reports the planted parse errors per file")(got == want, s"got $got want $want")
    }

    b.call("logs.scan_stats", "graft.logs") {
      HttpdLog.scanStats(spark, in.allGlob, formatType = "combined").collect()
    }.foreach { rows =>
      val got = (rows.map(_.getAs[Long]("total_rows")).sum, rows.map(_.getAs[Long]("parse_errors")).sum,
        rows.map(_.getAs[Long]("bytes_scanned")).sum)
      val want = (in.all.lines, in.all.errors, in.all.bytesScanned)
      b.check("scan stats match the generator")(got == want, s"got $got want $want")
    }

    val q = s"SELECT status, count(*) AS n, sum(bytes) AS b " +
      s"FROM read_httpd_log('${in.allGlob}', 'combined') GROUP BY status"
    b.call("sql.tvf_plan", "graft.sql") {
      val df = spark.sql(q)
      df.queryExecution.executedPlan
      df
    }.flatMap(df => b.call("sql.tvf_narrow", "graft.sql")(df.collect()))
      .foreach(checkHistogram("TVF aggregate", in.all, _))

    b.call("logs.conf_read", "graft.logs") {
      HttpdLog.read(spark, in.allGlob, conf = in.conf.getPath, formatType = "benchcombined").count()
    }.foreach(n => b.check("conf nickname read keeps the well-formed lines")(n == in.all.okLines,
      s"got $n want ${in.all.okLines}"))
  }

  private def checkHistogram(what: String, t: LogTruth, rows: Array[Row]): Unit = {
    val got = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val bytes = rows.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum
    b.check(s"$what matches the status histogram and byte sum")(
      got == t.status.toMap && bytes == t.byteSum, s"got $got/$bytes want ${t.status}/${t.byteSum}")
  }

  /** Latency samples of the untraced rounds, query by query. */
  private def samples(query: String, traced: Boolean): Seq[Double] = query match {
    case "sql.tvf" =>
      // plan + run, as the analyst sees it
      b.calls.filter(c => c.name == "sql.tvf_plan" && c.traced == traced).map(_.seconds).toSeq
        .zip(b.calls.filter(c => c.name == "sql.tvf_narrow" && c.traced == traced).map(_.seconds))
        .map { case (p, n) => p + n }
    case n => b.calls.filter(c => c.name == n && c.traced == traced).map(_.seconds).toSeq
  }

  /** Lines scanned per second of query time: the median over rounds. */
  def endToEnd: EndToEnd = {
    val perQuery = Queries.map(q => q -> samples(q, traced = false))
    val rounds = perQuery.map(_._2.size).min
    val rates = (0 until rounds).map { i =>
      perQuery.map { case (q, _) => main.lines(q).toDouble }.sum / perQuery.map(_._2(i)).sum
    }
    EndToEnd(Stats.median(rates), "scan_lines_per_s", perQuery.flatMap(_._2), "query")
  }

  def tracedUnits: Int = b.roundTimes.count(_._2)

  def traceOverheadFrac: Double = Report.roundOverhead(b)

  def layerMetrics: Seq[Metric] = {
    def med(name: String) = Report.tracedMedian(b, name)
    val scanning = Seq("logs.read_plain", "logs.read_gzip", "logs.read_zstd", "logs.status_agg",
      "logs.read_raw", "logs.scan_stats", "logs.conf_read")
    val spans = scanning.flatMap(n => b.tracedSpans(n).map(n -> _))
    val cpu = spans.map { case (_, s) => b.countsOf(s.group).cpuNs / 1e9 }.sum
    val lines = spans.map { case (n, _) => main.lines(n).toDouble }.sum
    Seq(
      Metric("logs.resolve_format_s", med("logs.resolve_format"), "s"),
      Metric("logs.read_plain_s", med("logs.read_plain"), "s"),
      Metric("logs.read_gzip_s", med("logs.read_gzip"), "s"),
      Metric("logs.read_zstd_s", med("logs.read_zstd"), "s"),
      Metric("logs.read_raw_s", med("logs.read_raw"), "s"),
      Metric("logs.scan_stats_s", med("logs.scan_stats"), "s"),
      Metric("logs.status_agg_s", med("logs.status_agg"), "s"),
      Metric("logs.conf_read_s", med("logs.conf_read"), "s"),
      Metric("logs.lines_per_cpu_s", lines / cpu, "1/s"),
      Metric("logs.parse_errors", parseErrorsFound.toDouble, "count"),
      Metric("sql.tvf_plan_s", med("sql.tvf_plan"), "s"),
      Metric("sql.tvf_narrow_s", med("sql.tvf_narrow"), "s"))
  }
}
