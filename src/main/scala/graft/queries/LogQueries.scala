package graft.queries

import graft.logs.{ErrorLog, HttpdConf, HttpdLog}
import graft.sql.GraftSql
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * A-tier log-engine queries: each synthesizes Apache log lines
 * deterministically from the `events` parquet (identical string-building
 * expressions in Spark and the DuckDB oracle), parses them with
 * [[HttpdLog]], and aggregates the parsed columns — a round-trip proof
 * of the parse+conversion pipeline (SURVEY.md §4).
 *
 * Determinism rules shared with the oracles:
 *  - `floor(value * k)` before any double→int cast (both engines truncate
 *    identically on floor; bare casts round in DuckDB but truncate in Spark)
 *  - integer division via `div`/`//`, never `/`
 *  - timestamps compared as formatted strings
 */
object LogQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** The synthesized common-format log as a hive-partitioned tree
   * (shard=s0..s3, a [[Scratch]] fixture) — the input of both
   * q_log_hive_partitions and its streaming twin q_d27. */
  private[queries] def hiveLogs(s: SparkSession, dir: String): String =
    Scratch.fixture(dir, "hive_logs")(
      events(s, dir)
        .select(commonLine.as("value"),
          concat(lit("s"), (col("event_id") % 4).cast(StringType)).as("shard"))
        .coalesce(1).write.partitionBy("shard").text(_))

  // ---- shared synthesized fields (Spark side; oracle mirrors in SQL) ----

  private[queries] def host: Column =
    concat(
      lit("10."), (col("user_id") % 50).cast(StringType),
      lit("."), (col("user_id") % 200).cast(StringType),
      lit("."), (col("event_id") % 250).cast(StringType))

  /** Shared with DQueries (q_d11): one Apache error-log line per event,
   * µs-fraction asctime %t — the SQL mirror is [[errorSynthSql]]. */
  private[queries] val ErrorLogFmt = "[%t] [%m:%l] [pid %P:tid %T] [client %a] %M"

  private[queries] def errorLine: Column = {
    val lvl = (col("event_id") % 4).cast(IntegerType)
    val levelCol = when(lvl === 0, "info").when(lvl === 1, "warn")
      .when(lvl === 2, "error").otherwise("notice")
    val msg = concat(
      lit("AH"), lpad((col("event_id") % 1000).cast(StringType), 5, "0"),
      lit(": op "), col("event_type"),
      lit(" value="), floor(col("value") * 10).cast(LongType).cast(StringType))
    concat(
      lit("["), date_format(col("ts"), "EEE MMM dd HH:mm:ss.SSSSSS yyyy"),
      lit("] ["), col("event_type"), lit(":"), levelCol,
      lit("] [pid "), col("user_id").cast(StringType),
      lit(":tid "), (col("event_id") % 97).cast(StringType),
      lit("] [client "), host, lit("] "), msg)
  }

  private[queries] val errorSynthSql: String =
    """WITH esynth AS (
      |  SELECT
      |    CASE CAST(event_id % 4 AS INTEGER) WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
      |         WHEN 2 THEN 'error' ELSE 'notice' END AS loglevel,
      |    event_type AS module,
      |    user_id AS pid,
      |    '10.' || (user_id % 50) || '.' || (user_id % 200) || '.' || (event_id % 250) AS client,
      |    'AH' || lpad(CAST(event_id % 1000 AS VARCHAR), 5, '0') || ': op ' || event_type
      |      || ' value=' || CAST(floor(value * 10) AS BIGINT) AS message,
      |    ts
      |  FROM events)
      |""".stripMargin

  private def usrStr: Column =
    when(col("user_id") % 7 === 0, lit("-"))
      .otherwise(concat(lit("u"), col("user_id").cast(StringType)))

  private def tsStr: Column = // session TZ is UTC → fixed +0000 suffix
    concat(date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss"), lit(" +0000"))

  /** Shared with DQueries so the synthesized status distribution and its
   * SQL mirror live in exactly one place each. */
  private[queries] def statusCol: Column =
    (col("event_id") % 5).cast(IntegerType) match {
      case m => when(m === 0, 200).when(m === 1, 200).when(m === 2, 301).when(m === 3, 404).otherwise(500)
    }

  private[queries] val statusCaseSql: String =
    "CASE CAST(event_id % 5 AS INTEGER) WHEN 0 THEN 200 WHEN 1 THEN 200 WHEN 2 THEN 301 WHEN 3 THEN 404 ELSE 500 END"

  private def bytesStr: Column =
    when(col("event_id") % 11 === 0, lit("-"))
      .otherwise(floor(col("value") * 100).cast(LongType).cast(StringType))

  private def pathCol: Column =
    concat(lit("/p/"), col("event_type"), lit("/"), col("event_id").cast(StringType))

  private def qsStr: Column =
    when(col("event_id") % 3 === 0, concat(lit("?q="), (col("event_id") % 100).cast(StringType)))
      .otherwise(lit(""))

  /** One common-format line per event. */
  private[queries] def commonLine: Column =
    concat(
      host, lit(" - "), usrStr, lit(" ["), tsStr, lit("] \"GET "),
      pathCol, qsStr, lit(" HTTP/1.1\" "), statusCol.cast(StringType), lit(" "), bytesStr)

  /** DuckDB mirror of the synthesized per-event fields (post-parse view). */
  private[queries] val synthSql: String =
    s"""WITH synth AS (
      |  SELECT event_id, user_id, ts, event_type, value,
      |    '10.' || (user_id % 50) || '.' || (user_id % 200) || '.' || (event_id % 250) AS host,
      |    CASE WHEN user_id % 7 = 0 THEN NULL ELSE 'u' || user_id END AS usr,
      |    $statusCaseSql AS status,
      |    CASE WHEN event_id % 11 = 0 THEN 0 ELSE CAST(floor(value * 100) AS BIGINT) END AS bytes,
      |    '/p/' || event_type || '/' || event_id AS path,
      |    CASE WHEN event_id % 3 = 0 THEN '?q=' || (event_id % 100) ELSE NULL END AS qs
      |  FROM events)
      |""".stripMargin

  private def parsedCommon(s: SparkSession, dir: String): DataFrame =
    HttpdLog.parseLines(events(s, dir).select(commonLine.as("value")), HttpdLog.CommonFormat)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A3/A4/A6: full common-format round trip
    "q_log_parse_common" -> ((s, dir) => {
      parsedCommon(s, dir)
        .groupBy("status")
        .agg(
          count(lit(1)).as("cnt"),
          sum("bytes").as("sum_bytes"),
          countDistinct(col("client_host")).as("hosts"),
          sum(when(col("auth_user").isNull, 1L).otherwise(0L)).as("null_users"))
        .orderBy("status")
    }),

    // A7+A9: format auto-detect over a glob of mixed plain + gzip files,
    // with per-file attribution via log_file
    "q_log_autodetect_glob" -> ((s, dir) => {
      // staged once per dataset (a Scratch fixture). zstd is NOT
      // covered — Spark's text source needs the native Hadoop zstd lib,
      // absent here; gzip/bzip2/deflate ship as Java codecs.
      val ev = events(s, dir)
      val tmp = Scratch.fixture(dir, "glob_logs") { out =>
        ev.filter(col("event_id") % 3 === 0).select(commonLine.as("value"))
          .coalesce(2).write.text(s"$out/plain")
        ev.filter(col("event_id") % 3 === 1).select(commonLine.as("value"))
          .coalesce(2).write.option("compression", "gzip").text(s"$out/gz")
        ev.filter(col("event_id") % 3 === 2).select(commonLine.as("value"))
          .coalesce(2).write.option("compression", "bzip2").text(s"$out/bz2")
      }
      // no format given -> sampled auto-detection must land on 'common'
      HttpdLog.read(s, s"$tmp/*/*")
        .withColumn("kind",
          when(col("log_file").endsWith(".gz"), "gz")
            .when(col("log_file").endsWith(".bz2"), "bz2")
            .otherwise("plain"))
        .groupBy("kind")
        .agg(
          count(lit(1)).as("cnt"),
          sum("bytes").as("sum_bytes"),
          countDistinct(col("client_host")).as("hosts"))
        .orderBy("kind")
    }),

    // A9+: hive-partitioned log tree (shard=s0/..) — the 100 TB archive
    // layout: the partition column surfaces next to log_file (reference
    // parity with MultiFileReader hive_partitioning,
    // httpd_log_multi_file_info.cpp:231) and the shard filter PRUNES
    // partitions before the scan (HivePartitionSpec pins the
    // PartitionFilters plan shape; this row pins the VALUES).
    "q_log_hive_partitions" -> ((s, dir) => {
      HttpdLog.read(s, hiveLogs(s, dir), formatType = "common")
        .filter(col("shard") =!= "s3") // partition-pruning predicate
        .groupBy("shard")
        .agg(
          count(lit(1)).as("cnt"),
          sum("bytes").as("sum_bytes"),
          countDistinct(col("client_host")).as("hosts"),
          countDistinct(col("log_file")).as("files"))
        .orderBy("shard")
    }),

    // A4: %t Apache timestamp → UTC, bucketed hourly
    "q_log_hourly" -> ((s, dir) => {
      parsedCommon(s, dir)
        .groupBy(date_format(date_trunc("hour", col("timestamp")), "yyyy-MM-dd HH:00").as("hour"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("hour")
    }),

    // A6: '-' → 0 for bytes columns
    "q_log_bytes_dash" -> ((s, dir) => {
      parsedCommon(s, dir)
        .agg(
          sum("bytes").as("sum_bytes"),
          sum(when(col("bytes") === 0, 1L).otherwise(0L)).as("zero_rows"))
    }),

    // A3: %r decomposition — query_string semantics
    "q_log_query_string" -> ((s, dir) => {
      parsedCommon(s, dir)
        .agg(
          sum(when(col("query_string").isNull, 1L).otherwise(0L)).as("null_qs"),
          sum(when(col("query_string").isNotNull, 1L).otherwise(0L)).as("with_qs"),
          countDistinct(col("path")).as("paths"),
          countDistinct(col("query_string")).as("distinct_qs"))
    }),

    // A6: %X connection-status mapping
    "q_log_connstatus" -> ((s, dir) => {
      val conn = when(col("event_id") % 4 === 0, "X")
        .when(col("event_id") % 4 === 1, "+")
        .when(col("event_id") % 4 === 2, "-")
        .otherwise("+")
      val line = concat(
        host, lit(" ["), tsStr, lit("] \"GET "), pathCol, lit(" HTTP/1.1\" "),
        statusCol.cast(StringType), lit(" "), conn)
      HttpdLog.parseLines(events(s, dir).select(line.as("value")), "%h %t \"%r\" %>s %X")
        .groupBy("connection_status")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("connection_status")
    }),

    // A6: duration %D (µs) with %{ms}T collision (highest precision wins)
    "q_log_duration" -> ((s, dir) => {
      val durUs = when(col("event_id") % 13 === 0, lit(null).cast(LongType))
        .otherwise(floor(col("value") * 1000).cast(LongType))
      val durStr = coalesce(durUs.cast(StringType), lit("-"))
      val msStr = coalesce(expr("CAST(floor(value * 1000) AS BIGINT) div 1000").cast(StringType), lit("-"))
      val line = concat(
        host, lit(" ["), tsStr, lit("] \"GET "), pathCol, lit(" HTTP/1.1\" "),
        statusCol.cast(StringType), lit(" "), durStr, lit(" "), msStr)
      HttpdLog.parseLines(events(s, dir).select(line.as("value")), "%h %t \"%r\" %>s %D %{ms}T")
        .select(
          col("path"),
          date_format(lit("2000-01-01 00:00:00").cast(TimestampType) + col("duration"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("dur_ts"))
        .orderBy("path")
    }),

    // A2: column-name collision — %s vs %>s → status_original / status
    "q_log_collisions" -> ((s, dir) => {
      val sFinal = when(col("event_id") % 5 === 3, 200).otherwise(statusCol)
      val line = concat(
        host, lit(" - "), usrStr, lit(" ["), tsStr, lit("] \"GET "), pathCol,
        lit(" HTTP/1.1\" "), statusCol.cast(StringType), lit(" "), sFinal.cast(StringType))
      HttpdLog.parseLines(events(s, dir).select(line.as("value")), "%h %l %u %t \"%r\" %s %>s")
        .groupBy("status", "status_original")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("status", "status_original")
    }),

    // A5: %{strftime}t parsing
    "q_log_strftime" -> ((s, dir) => {
      val line = concat(
        host, lit(" "), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), lit(" "),
        statusCol.cast(StringType))
      HttpdLog.parseLines(events(s, dir).select(line.as("value")), "%h %{%Y-%m-%d %H:%M:%S}t %>s")
        .groupBy(date_format(col("timestamp"), "yyyy-MM-dd HH").as("h"))
        .agg(count(lit(1)).as("cnt"), max(date_format(col("timestamp"), "mm:ss")).as("max_minsec"))
        .orderBy("h")
    }),

    // A5: consecutive %t group — epoch seconds + msec fraction combine
    "q_log_epoch" -> ((s, dir) => {
      val sec = expr("unix_micros(ts) div 1000000")
      val msec = expr("(unix_micros(ts) div 1000) % 1000")
      val line = concat(
        host, lit(" "), sec.cast(StringType), lit(" "), lpad(msec.cast(StringType), 3, "0"),
        lit(" "), statusCol.cast(StringType))
      HttpdLog.parseLines(events(s, dir).select(line.as("value")), "%h %{sec}t %{msec_frac}t %>s")
        .groupBy(date_format(col("timestamp"), "yyyy-MM-dd HH").as("h"))
        .agg(count(lit(1)).as("cnt"), max(date_format(col("timestamp"), "ss.SSS")).as("max_frac"))
        .orderBy("h")
    }),

    // A5: %{usec}t epoch microseconds preserve full precision
    "q_log_epoch_usec" -> ((s, dir) => {
      val line = concat(
        host, lit(" "), unix_micros(col("ts")).cast(StringType), lit(" "),
        statusCol.cast(StringType))
      HttpdLog.parseLines(events(s, dir).select(line.as("value")), "%h %{usec}t %>s")
        .groupBy(date_format(col("timestamp"), "yyyy-MM-dd HH").as("h"))
        .agg(count(lit(1)).as("cnt"), max(date_format(col("timestamp"), "ss.SSSSSS")).as("max_frac"))
        .orderBy("h")
    }),

    // A8 (stats surface): per-scan profiling counters — the reference's
    // Total Rows / Parse Errors / Bytes Scanned / Files Processed table
    // (httpd_log_table_function.cpp:861-880) as ONE aggregate over real
    // files: every 10th event is a garbage line, bytes follow the
    // reference's octet_length(line)+1 accounting, and the oracle
    // reconstructs the raw line analytically to re-derive the lengths.
    "q_log_scan_stats" -> ((s, dir) => {
      // the fixture's dataset stamp (file sizes + mtimes) keeps
      // regenerated testdata at the same path from reusing stale
      // synthesized lines (r12 review finding — a path-hash key
      // silently decoupled the scan from the oracle's analytic
      // reconstruction)
      val line = when(col("event_id") % 10 === 0,
        concat(lit("garbage line "), col("event_id").cast(StringType)))
        .otherwise(commonLine)
      val tmp = Scratch.fixture(dir, "scanstats_lines")(
        events(s, dir).select(line.as("value")).coalesce(2).write.text(_))
      HttpdLog.scanStats(s, s"$tmp/part-*", formatType = "common")
        .agg(
          countDistinct(col("log_file")).as("files"),
          sum("total_rows").as("total_rows"),
          sum("parse_errors").as("parse_errors"),
          sum("bytes_scanned").as("bytes_scanned"))
    }),

    // A8: raw mode keeps parse-error rows with NULL typed columns
    "q_log_parse_errors" -> ((s, dir) => {
      val line = when(col("event_id") % 10 === 0,
        concat(lit("garbage line "), col("event_id").cast(StringType)))
        .otherwise(commonLine)
      HttpdLog.parseLines(events(s, dir).select(line.as("value")), HttpdLog.CommonFormat, raw = true)
        .groupBy("parse_error")
        .agg(
          count(lit(1)).as("cnt"),
          sum(when(col("status").isNull, 1L).otherwise(0L)).as("null_status"))
        .orderBy("parse_error")
    }),

    // A10: httpd.conf extraction
    "q_conf_formats" -> ((s, dir) => {
      val conf = Paths.get(Scratch.dir("conf"), "oracle.conf")
      Files.write(conf, Seq(
        "# test config",
        "LogFormat \"%h %l %u %t \\\"%r\\\" %>s %b\" common",
        "LogFormat \"%h %l %u %t \\\"%r\\\" %>s %b \\\"%{Referer}i\\\" \\\"%{User-agent}i\\\"\" combined",
        "CustomLog \"logs/access_log\" \"%h %t %>s\"",
        "CustomLog \"logs/other_log\" common",
        "ErrorLogFormat \"[%t] [%l] %M\""
      ).mkString("\n").getBytes(StandardCharsets.UTF_8))
      HttpdConf.read(s, conf.toString)
        .select("log_type", "format_type", "nickname", "format_string", "line_number")
        .orderBy("line_number")
    }),

    // SQL surface: read_httpd_log as a table-valued function
    "q_sql_tvf" -> ((s, dir) => {
      GraftSql.register(s)
      val log = Paths.get(Scratch.dir("tvf"), "tvf.log")
      val lines = (0 until 40).map { i =>
        val status = if (i % 2 == 0) 200 else 404
        f"10.1.0.$i - - [02/Feb/2024:08:$i%02d:00 +0000] " + "\"GET /t HTTP/1.1\" " + s"$status $i"
      }
      Files.write(log, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      s.sql(
        s"SELECT status, count(*) AS cnt, sum(bytes) AS sum_bytes " +
          s"FROM read_httpd_log('$log', 'common') GROUP BY status ORDER BY status")
    }),

    // A10: conf= + format_type=nickname integration into HttpdLog.read
    "q_log_conf_integration" -> ((s, dir) => {
      val tmp = Paths.get(Scratch.dir("integ"))
      val conf = tmp.resolve("integ.conf")
      val log = tmp.resolve("integ.log")
      Files.write(conf, Seq(
        "LogFormat \"%h %l %u %t \\\"%r\\\" %>s %b\" common",
        "LogFormat \"%h %t \\\"%r\\\" %>s %b\" mini"
      ).mkString("\n").getBytes(StandardCharsets.UTF_8))
      val lines = (0 until 50).map { i =>
        val status = if (i % 2 == 0) 200 else 404
        f"10.0.0.$i [01/Feb/2024:00:$i%02d:00 +0000] " + "\"GET /x HTTP/1.1\" " + s"$status $i"
      }
      Files.write(log, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      HttpdLog.read(s, log.toString, formatType = "mini", conf = conf.toString)
        .groupBy("status")
        .agg(count(lit(1)).as("cnt"), sum("bytes").as("sum_bytes"))
        .orderBy("status")
    }),

    // A10+: ErrorLogFormat conf → error-log parse round trip. The conf's
    // error directive (the one surface read_httpd_conf extracts but the
    // reference never feeds back into a parser) drives ErrorLog.parseLines
    // over lines synthesized from events; the aggregate proves level,
    // module, pid, client, message, and the µs timestamp all round-trip.
    "q_log_error_format" -> ((s, dir) => {
      val conf = Paths.get(Scratch.dir("error_conf"), "error.conf")
      Files.write(conf, Seq(
        "# error log config",
        "ErrorLogFormat \"[%t] [%m:%l] [pid %P:tid %T] [client %a] %M\""
      ).mkString("\n").getBytes(StandardCharsets.UTF_8))
      val fmt = ErrorLog.formatFromConf(s, conf.toString)
        .getOrElse(sys.error("no ErrorLogFormat in conf"))
      ErrorLog.parseLines(events(s, dir).select(errorLine.as("value")), fmt)
        .groupBy("loglevel", "module")
        .agg(
          count(lit(1)).as("cnt"),
          sum("pid").as("sum_pid"),
          countDistinct("client").as("clients"),
          max("message").as("max_msg"),
          max(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).as("max_ts"))
        .orderBy("loglevel", "module")
    }),

    // SQL surface: read_error_log as a table-valued function, format
    // resolved from a conf file (conf => ...), timestamps with µs
    // fractions and an asctime space-padded day — the full %t round
    // trip through pure SQL.
    "q_sql_tvf_error" -> ((s, dir) => {
      GraftSql.register(s)
      val tmp = Paths.get(Scratch.dir("tvf_err"))
      val conf = tmp.resolve("tvf_err.conf")
      val log = tmp.resolve("tvf_err.log")
      Files.write(conf, Seq(
        "ErrorLogFormat \"[%t] [%m:%l] [pid %P:tid %T] [client %a] %M\""
      ).mkString("\n").getBytes(StandardCharsets.UTF_8))
      val lines = (0 until 60).map { i =>
        val level = Seq("error", "warn", "info")(i % 3)
        val module = Seq("core", "ssl")(i % 2)
        f"[Mon Feb  5 10:$i%02d:07.123456 2024] [$module:$level] " +
          f"[pid $i:tid ${i % 7}] [client 10.2.0.${i % 5}] AH$i%05d: message $i"
      }
      Files.write(log, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      s.sql(
        s"SELECT loglevel, module, count(*) AS cnt, sum(pid) AS sum_pid, " +
          s"count(DISTINCT client) AS clients, " +
          s"max(date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')) AS max_ts " +
          s"FROM read_error_log('$log', conf => '$conf') " +
          s"GROUP BY loglevel, module ORDER BY loglevel, module")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_log_parse_common" -> (synthSql +
      """SELECT status, count(*) AS cnt, CAST(sum(bytes) AS BIGINT) AS sum_bytes,
        |  count(DISTINCT host) AS hosts,
        |  CAST(sum(CASE WHEN usr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_users
        |FROM synth GROUP BY status ORDER BY status""".stripMargin),
    "q_log_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,
    "q_log_autodetect_glob" -> (synthSql +
      """SELECT CASE WHEN event_id % 3 = 1 THEN 'gz'
        |            WHEN event_id % 3 = 2 THEN 'bz2'
        |            ELSE 'plain' END AS kind,
        |  count(*) AS cnt, CAST(sum(bytes) AS BIGINT) AS sum_bytes,
        |  count(DISTINCT host) AS hosts
        |FROM synth GROUP BY 1 ORDER BY kind""".stripMargin),
    // hive layout: the s3 shard is pruned before the scan; files is the
    // pinned coalesce(1) — one part file per partition directory
    "q_log_hive_partitions" -> (synthSql +
      """SELECT 's' || (event_id % 4) AS shard,
        |  count(*) AS cnt, CAST(sum(bytes) AS BIGINT) AS sum_bytes,
        |  count(DISTINCT host) AS hosts, CAST(1 AS BIGINT) AS files
        |FROM synth WHERE event_id % 4 <> 3
        |GROUP BY 1 ORDER BY shard""".stripMargin),
    // Scan-stats oracle: the raw line is reconstructed ANALYTICALLY
    // (same concat arithmetic as the Spark synthesizer) and the
    // reference's byte formula — octet_length(line)+1 per non-empty
    // line — is re-derived from it; files is the pinned coalesce(2).
    "q_log_scan_stats" -> s"""WITH raw AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 10 = 0 THEN 'garbage line ' || event_id
        |    ELSE '10.' || (user_id % 50) || '.' || (user_id % 200) || '.' || (event_id % 250)
        |      || ' - ' || CASE WHEN user_id % 7 = 0 THEN '-' ELSE 'u' || user_id END
        |      || ' [' || strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000] "GET /p/'
        |      || event_type || '/' || event_id
        |      || CASE WHEN event_id % 3 = 0 THEN '?q=' || (event_id % 100) ELSE '' END
        |      || ' HTTP/1.1" ' || ($statusCaseSql) || ' '
        |      || CASE WHEN event_id % 11 = 0 THEN '-' ELSE CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) END
        |    END AS line
        |  FROM events)
        |SELECT CAST(2 AS BIGINT) AS files, count(*) AS total_rows,
        |  CAST(sum(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS parse_errors,
        |  CAST(sum(strlen(line) + 1) AS BIGINT) AS bytes_scanned
        |FROM raw""".stripMargin,
    "q_log_bytes_dash" -> (synthSql +
      """SELECT CAST(sum(bytes) AS BIGINT) AS sum_bytes,
        |  CAST(sum(CASE WHEN bytes = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_rows
        |FROM synth""".stripMargin),
    "q_log_query_string" -> (synthSql +
      """SELECT CAST(sum(CASE WHEN qs IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qs,
        |  CAST(sum(CASE WHEN qs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS with_qs,
        |  count(DISTINCT path) AS paths, count(DISTINCT qs) AS distinct_qs
        |FROM synth""".stripMargin),
    "q_log_connstatus" ->
      """SELECT conn AS connection_status, count(*) AS cnt FROM (
        |  SELECT CASE CAST(event_id % 4 AS INTEGER)
        |    WHEN 0 THEN 'aborted' WHEN 1 THEN 'keepalive' WHEN 2 THEN 'close'
        |    ELSE 'keepalive' END AS conn
        |  FROM events) GROUP BY conn ORDER BY connection_status""".stripMargin,
    "q_log_duration" ->
      """SELECT '/p/' || event_type || '/' || event_id AS path,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |    ELSE strftime(TIMESTAMP '2000-01-01' + to_microseconds(CAST(floor(value * 1000) AS BIGINT)),
        |                  '%Y-%m-%d %H:%M:%S.%f') END AS dur_ts
        |FROM events ORDER BY path""".stripMargin,
    "q_log_collisions" -> (synthSql +
      """SELECT CASE WHEN event_id % 5 = 3 THEN 200 ELSE status END AS status,
        |  status AS status_original, count(*) AS cnt
        |FROM synth GROUP BY 1, 2 ORDER BY status, status_original""".stripMargin),
    "q_log_strftime" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS h, count(*) AS cnt,
        |  max(strftime(ts, '%M:%S')) AS max_minsec
        |FROM events GROUP BY 1 ORDER BY h""".stripMargin,
    "q_log_epoch" ->
      """SELECT strftime(t2, '%Y-%m-%d %H') AS h, count(*) AS cnt,
        |  max(strftime(t2, '%S.%g')) AS max_frac
        |FROM (SELECT make_timestamp((epoch_us(ts) // 1000000) * 1000000
        |                            + ((epoch_us(ts) // 1000) % 1000) * 1000) AS t2
        |      FROM events) GROUP BY 1 ORDER BY h""".stripMargin,
    "q_log_epoch_usec" ->
      """SELECT strftime(t2, '%Y-%m-%d %H') AS h, count(*) AS cnt,
        |  max(strftime(t2, '%S.%f')) AS max_frac
        |FROM (SELECT make_timestamp(epoch_us(ts)) AS t2 FROM events)
        |GROUP BY 1 ORDER BY h""".stripMargin,
    "q_log_parse_errors" ->
      """SELECT (event_id % 10 = 0) AS parse_error, count(*) AS cnt,
        |  CAST(sum(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS null_status
        |FROM events GROUP BY 1 ORDER BY parse_error""".stripMargin,
    "q_conf_formats" ->
      """SELECT * FROM (VALUES
        |  ('access', 'named', 'common', '%h %l %u %t "%r" %>s %b', CAST(2 AS INTEGER)),
        |  ('access', 'named', 'combined', '%h %l %u %t "%r" %>s %b "%{Referer}i" "%{User-agent}i"', CAST(3 AS INTEGER)),
        |  ('access', 'inline', NULL, '%h %t %>s', CAST(4 AS INTEGER)),
        |  ('error', 'default', NULL, '[%t] [%l] %M', CAST(6 AS INTEGER)))
        |t(log_type, format_type, nickname, format_string, line_number)
        |ORDER BY line_number""".stripMargin,
    "q_sql_tvf" ->
      """SELECT * FROM (VALUES
        |  (CAST(200 AS INTEGER), CAST(20 AS BIGINT), CAST(380 AS BIGINT)),
        |  (CAST(404 AS INTEGER), CAST(20 AS BIGINT), CAST(400 AS BIGINT)))
        |t(status, cnt, sum_bytes) ORDER BY status""".stripMargin,
    "q_sql_tvf_error" ->
      """WITH e AS (
        |  SELECT
        |    ['error','warn','info'][(i % 3) + 1] AS loglevel,
        |    ['core','ssl'][(i % 2) + 1] AS module,
        |    CAST(i AS BIGINT) AS pid,
        |    '10.2.0.' || CAST(i % 5 AS VARCHAR) AS client,
        |    '2024-02-05 10:' || lpad(CAST(i AS VARCHAR), 2, '0') || ':07.123456' AS ts_s
        |  FROM generate_series(0, 59) t(i))
        |SELECT loglevel, module, count(*) AS cnt,
        |  CAST(sum(pid) AS BIGINT) AS sum_pid,
        |  count(DISTINCT client) AS clients, max(ts_s) AS max_ts
        |FROM e GROUP BY loglevel, module ORDER BY loglevel, module""".stripMargin,
    "q_log_conf_integration" ->
      """SELECT * FROM (VALUES
        |  (CAST(200 AS INTEGER), CAST(25 AS BIGINT), CAST(600 AS BIGINT)),
        |  (CAST(404 AS INTEGER), CAST(25 AS BIGINT), CAST(625 AS BIGINT)))
        |t(status, cnt, sum_bytes) ORDER BY status""".stripMargin,
    "q_log_error_format" -> (errorSynthSql +
      """SELECT loglevel, module, count(*) AS cnt,
        |  CAST(sum(pid) AS BIGINT) AS sum_pid,
        |  count(DISTINCT client) AS clients,
        |  max(message) AS max_msg,
        |  max(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS max_ts
        |FROM esynth GROUP BY loglevel, module ORDER BY loglevel, module""".stripMargin)
  )
}
